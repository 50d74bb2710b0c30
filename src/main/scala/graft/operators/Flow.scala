package graft.operators

import scala.reflect.ClassTag
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.core._
import graft.core.DriverGate.Placed

/** D8 hydrological flow operators — beyond-reference additions in the
  * reference's own problem domain (hydro-raster feeds flood models;
  * `Raster.py` stops at terrain prep, so flow routing is the natural
  * next operator a user would reach for).
  *
  * Semantics (public-textbook D8, O'Callaghan & Mark 1984):
  *   - `flowDir`: each valid cell drains to the neighbor with the
  *     steepest positive drop `(z - zn) / dist`, `dist = cs` for
  *     cardinal and `cs * sqrt(2)` for diagonal neighbors. ESRI-style
  *     power-of-two codes (E=1, SE=2, S=4, SW=8, W=16, NW=32, N=64,
  *     NE=128); ties break to the smallest code; no positive drop
  *     (pit / flat / all-NaN ring) -> 0. NaN cells emit nothing and
  *     never receive flow.
  *   - `flowAcc`: number of cells draining through each cell,
  *     INCLUDING the cell itself (so a ridge cell has acc = 1).
  *
  * Scale shape: `flowDir` is one halo exchange ([[Stencil.padded]],
  * shuffle volume ~4/2^res of the payload) + a per-tile loop. `flowAcc`
  * is the tile-condensation pattern (same seam idea as [[Vectorize]])
  * set out in the "Tile condensation" section below.
  * Both DuckDB-oracled: flowDir per-cell (identical IEEE operand order,
  * so drops are bit-equal cross-engine) and flowAcc against a
  * WITH RECURSIVE downstream-closure count (r24/r25).
  */
object Flow {

  private val Sqrt2 = math.sqrt(2.0)

  /** (code, dr, dc) in ascending code order — the iteration order IS the
    * tie-break (first strict improvement wins -> smallest code). */
  private val D8: Array[(Int, Int, Int)] = Array(
    (1, 0, 1), (2, 1, 1), (4, 1, 0), (8, 1, -1),
    (16, 0, -1), (32, -1, -1), (64, -1, 0), (128, -1, 1))

  /** Per-tile D8 kernel over a padded tile: dir(i) for local index i,
    * -1 for NaN cells. */
  private def dirPlane(pt: Stencil.Padded, cs: Double): Array[Int] = {
    val out = new Array[Int](pt.h * pt.w)
    var r = 0
    while (r < pt.h) {
      var c = 0
      while (c < pt.w) {
        val gz = pt.at(pt.row0 + r, pt.col0 + c)
        if (gz.isNaN) out(r * pt.w + c) = -1
        else {
          var best = 0
          var bestDrop = 0.0
          var k = 0
          while (k < 8) {
            val (code, dr, dc) = D8(k)
            val zn = pt.at(pt.row0 + r + dr, pt.col0 + c + dc)
            if (!zn.isNaN) {
              val dist = if (dr != 0 && dc != 0) cs * Sqrt2 else cs
              val drop = (gz - zn) / dist
              if (drop > bestDrop) { bestDrop = drop; best = code }
            }
            k += 1
          }
          out(r * pt.w + c) = best
        }
        c += 1
      }
      r += 1
    }
    out
  }

  /** SQL CASE for the D8 code's row/col step — ONE source of truth for
    * every DataFrame-side edge construction (streamNetwork, strahler). */
  private[operators] val D8RowCase =
    "CASE dir WHEN 1 THEN 0 WHEN 2 THEN 1 WHEN 4 THEN 1 WHEN 8 THEN 1 " +
      "WHEN 16 THEN 0 WHEN 32 THEN -1 WHEN 64 THEN -1 WHEN 128 THEN -1 END"
  private[operators] val D8ColCase =
    "CASE dir WHEN 1 THEN 1 WHEN 2 THEN 1 WHEN 4 THEN 0 WHEN 8 THEN -1 " +
      "WHEN 16 THEN -1 WHEN 32 THEN -1 WHEN 64 THEN 0 WHEN 128 THEN 1 END"

  private def delta(code: Int): (Int, Int) = code match {
    case 1 => (0, 1); case 2 => (1, 1); case 4 => (1, 0); case 8 => (1, -1)
    case 16 => (0, -1); case 32 => (-1, -1); case 64 => (-1, 0); case 128 => (-1, 1)
  }

  /** D8 flow direction: (row, col, dir) for every valid cell. */
  def flowDir(tiles: Dataset[Tile], ref: GridRef, res: Int): DataFrame = {
    import tiles.sparkSession.implicits._
    val cs = ref.cellsize
    val blocks = Stencil.padded(tiles, ref, res).map(pt => (pt.row0, pt.col0, pt.w, dirPlane(pt, cs)))
    CellView(blocks.toDF("row0", "col0", "w", "dir"), LongType, Seq("dir"), Some(col("dir") >= 0))
  }

  // ---------------------------------------------------------------------
  // Tile condensation — the scale shape of all five crossing-graph
  // operators: flowAcc, longestUpstream, downstream, nearestDrainage and
  // fillSinks:
  //   1. per tile, an in-tile solve plus the tile's boundary summary: for
  //      the four D8 operators ([[TraceSummary]]) its crossing edges (cell
  //      -> neighbor-tile cell) and, for every border cell, where its
  //      in-tile D8 path ends; for the fill, its spill graph
  //      ([[tileSpillGraph]]);
  //   2. a solve over that CONDENSED GRAPH only (O(perimeter), ~4/2^res of
  //      the cells) — on the driver while it fits the [[DriverGate]] byte
  //      budget, distributed above. D8: a crossing's successor is the exit
  //      crossing its target's in-tile path reaches; z strictly decreases
  //      along flow, so the graph is a functional forest, which
  //      [[foldUpstream]] or [[resolveChains]] solves. Fill:
  //      [[minimaxToDrain]] over the union of the spill graphs, or per tile
  //      in rounds of messages over cross-tile edges;
  //   3. a second per-tile pass seeded with the solved values ([[seeded]]),
  //      cut once, eagerly, one dense block per tile: the per-cell rows an
  //      operator returns are the [[CellView]] of that cut, so no cut or
  //      shuffle of the condensation holds a row per cell.
  // Path lengths are kept as INTEGER (cardinal, diagonal) step counts so
  // results are exact cross-engine; physical length = cellsize * (ncard +
  // ndiag * sqrt(2)).

  // Each driver solve states an element's bytes as its retained driver heap
  // at the solve's peak (rows, maps, seeds or local rows handed on; measured
  // on a noisy synthetic 1024x1024 DEM at res 4 and 5, then rounded up).

  /** Per-tile boundary summary (public for encoder derivation).
    * crossing: (xR, xC, tR, tC, a, b) — a crossing cell, its out-of-tile
    * target and the in-tile upstream value (a, b) at the crossing cell.
    * routing: (bR, bC, kind, termR, termC, nc, nd) — each border cell's
    * in-tile trace end ([[localTrace]] kind 1 pit | 2 crossing cell |
    * 4 stop cell) and the step counts to it. */
  final case class TraceSummary(
      crossing: Array[(Long, Long, Long, Long, Long, Long)],
      routing: Array[(Long, Long, Int, Long, Long, Long, Long)])

  private type Crossing = (Long, Long, Long, Long, Long, Long)
  private type Route = (Long, Long, Int, Long, Long, Long, Long)

  /** Halo'd tile with the LOCAL indices of its stop cells
    * ([[nearestDrainage]]'s stream mask; empty for every other operator). */
  private type Masked = (Stencil.Padded, Array[Int])

  /** In-tile upstream solve: per-cell value (a, b) given the external
    * seeds arriving at the tile's entry cells, keyed by GLOBAL (row, col). */
  private type Local = (Stencil.Padded, Array[Int],
    scala.collection.Map[(Long, Long), (Long, Long)]) => (Array[Long], Array[Long])

  /** Local topological accumulation over one padded tile; a seed's `_1`
    * is the external inflow count added at its cell. Returns acc(i) for
    * valid cells (0 where NaN). */
  private def localAcc(pt: Stencil.Padded, dirs: Array[Int],
      seeds: scala.collection.Map[(Long, Long), (Long, Long)]): Array[Long] = {
    val n = pt.h * pt.w
    val acc = new Array[Long](n)
    val indeg = new Array[Int](n)
    // in-tile successor index, -1 if none (pit, NaN, or crossing)
    val succ = new Array[Int](n)
    var i = 0
    while (i < n) {
      succ(i) = -1
      if (dirs(i) > 0) {
        val (dr, dc) = delta(dirs(i))
        val tr = i / pt.w + dr
        val tc = i % pt.w + dc
        if (tr >= 0 && tr < pt.h && tc >= 0 && tc < pt.w) {
          succ(i) = tr * pt.w + tc
          indeg(succ(i)) += 1
        }
      }
      i += 1
    }
    val queue = new java.util.ArrayDeque[Int]()
    i = 0
    while (i < n) {
      if (dirs(i) >= 0) {
        acc(i) = 1L + seeds.get(
          ((pt.row0 + i / pt.w).toLong, (pt.col0 + i % pt.w).toLong)).fold(0L)(_._1)
        if (indeg(i) == 0) queue.add(i)
      }
      i += 1
    }
    while (!queue.isEmpty) {
      val u = queue.poll()
      val v = succ(u)
      if (v >= 0) {
        acc(v) += acc(u)
        indeg(v) -= 1
        if (indeg(v) == 0) queue.add(v)
      }
    }
    acc
  }

  /** Per-cell in-tile trace memo. For every local index i:
    * `typ` 1 = path ends at in-tile pit `term(i)`, 2 = path reaches the
    * crossing cell `term(i)` (whose dir leaves the tile), 3 = NaN cell,
    * 4 = path reaches an in-tile `stop` cell (first-touched, inclusive of
    * the start cell itself — [[nearestDrainage]]'s stream mask);
    * `cnc`/`cnd` = cardinal/diagonal steps from i to that terminal
    * (exclusive of the crossing step itself). Memoized stack walk, O(n). */
  private def localTrace(pt: Stencil.Padded, dirs: Array[Int],
      stop: Array[Boolean] = null)
      : (Array[Byte], Array[Int], Array[Int], Array[Int]) = {
    val n = pt.h * pt.w
    val typ = new Array[Byte](n)
    val term = new Array[Int](n)
    val cnc = new Array[Int](n)
    val cnd = new Array[Int](n)
    val stack = new Array[Int](n)
    var i = 0
    while (i < n) {
      if (dirs(i) == -1) typ(i) = 3
      else if (typ(i) == 0) {
        var sp = 0
        var j = i
        var resolved = false
        while (!resolved) {
          if (typ(j) != 0) resolved = true
          else if (stop != null && stop(j)) { typ(j) = 4; term(j) = j; resolved = true }
          else if (dirs(j) == 0) { typ(j) = 1; term(j) = j; resolved = true }
          else {
            val (dr, dc) = delta(dirs(j))
            val tr = j / pt.w + dr
            val tc = j % pt.w + dc
            if (tr < 0 || tr >= pt.h || tc < 0 || tc >= pt.w) {
              typ(j) = 2; term(j) = j; resolved = true
            } else { stack(sp) = j; sp += 1; j = tr * pt.w + tc }
          }
        }
        while (sp > 0) {
          sp -= 1
          val u = stack(sp)
          val (dr, dc) = delta(dirs(u))
          val v = (u / pt.w + dr) * pt.w + (u % pt.w + dc)
          val diag = dr != 0 && dc != 0
          typ(u) = typ(v); term(u) = term(v)
          cnc(u) = cnc(v) + (if (diag) 0 else 1)
          cnd(u) = cnd(v) + (if (diag) 1 else 0)
        }
      }
      i += 1
    }
    (typ, term, cnc, cnd)
  }

  /** weighted-length comparator: is (anc, and) strictly better than
    * (bnc, bnd)? Longer `nc + nd*sqrt2`; ties -> larger cardinal count.
    * Operand order matches the DuckDB oracle's ORDER BY expression. */
  private def longer(anc: Long, and: Long, bnc: Long, bnd: Long): Boolean = {
    val la = anc + and * Sqrt2
    val lb = bnc + bnd * Sqrt2
    la > lb || (la == lb && anc > bnc)
  }

  /** In-tile longest-upstream DAG solve (max-plus mirror of [[localAcc]]).
    * `seeds` maps a global (row, col) to external best (nc, nd) arriving
    * at that cell (crossing step already counted). Returns (bnc, bnd). */
  private def localLongest(pt: Stencil.Padded, dirs: Array[Int],
      seeds: scala.collection.Map[(Long, Long), (Long, Long)])
      : (Array[Long], Array[Long]) = {
    val n = pt.h * pt.w
    val bnc = new Array[Long](n)
    val bnd = new Array[Long](n)
    val indeg = new Array[Int](n)
    val succ = new Array[Int](n)
    val diag = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      succ(i) = -1
      if (dirs(i) > 0) {
        val (dr, dc) = delta(dirs(i))
        val tr = i / pt.w + dr
        val tc = i % pt.w + dc
        if (tr >= 0 && tr < pt.h && tc >= 0 && tc < pt.w) {
          succ(i) = tr * pt.w + tc
          diag(i) = dr != 0 && dc != 0
          indeg(succ(i)) += 1
        }
      }
      i += 1
    }
    val queue = new java.util.ArrayDeque[Int]()
    i = 0
    while (i < n) {
      if (dirs(i) >= 0) {
        seeds.get(((pt.row0 + i / pt.w).toLong, (pt.col0 + i % pt.w).toLong))
          .foreach { case (snc, snd) =>
            if (longer(snc, snd, bnc(i), bnd(i))) { bnc(i) = snc; bnd(i) = snd }
          }
        if (indeg(i) == 0) queue.add(i)
      }
      i += 1
    }
    while (!queue.isEmpty) {
      val u = queue.poll()
      val v = succ(u)
      if (v >= 0) {
        val nc2 = bnc(u) + (if (diag(u)) 0 else 1)
        val nd2 = bnd(u) + (if (diag(u)) 1 else 0)
        if (longer(nc2, nd2, bnc(v), bnd(v))) { bnc(v) = nc2; bnd(v) = nd2 }
        indeg(v) -= 1
        if (indeg(v) == 0) queue.add(v)
      }
    }
    (bnc, bnd)
  }

  /** No in-tile value: the chain resolves carry counts only. */
  private val NoLocal: Local = (pt, _, _) => {
    val z = new Array[Long](pt.h * pt.w)
    (z, z)
  }

  /** (cardinal, diagonal) count of the one D8 step from (xr, xc) to its
    * neighbour (tr, tc). */
  private def step(xr: Long, xc: Long, tr: Long, tc: Long): (Long, Long) =
    if (xr != tr && xc != tc) (0L, 1L) else (1L, 0L)

  private def stopMask(pt: Stencil.Padded, idx: Array[Int]): Array[Boolean] =
    if (idx.isEmpty) null
    else {
      val stop = new Array[Boolean](pt.h * pt.w)
      idx.foreach(stop(_) = true)
      stop
    }

  /** Halo'd tiles paired with their stop cells. */
  private def masked(tiles: Dataset[Tile], ref: GridRef, res: Int,
      stops: Option[Dataset[(Long, Array[Int])]]): Dataset[Masked] = {
    import tiles.sparkSession.implicits._
    val bare = Stencil.padded(tiles, ref, res)
    (stops match {
      case None => bare.map(pt => (pt, Array.emptyIntArray))
      case Some(st) =>
        bare.joinWith(st, bare("cellId") === st("_1"), "left_outer")
          .map { case (pt, s) => (pt, if (s == null) Array.emptyIntArray else s._2) }
    })
  }

  /** Pass 1: per tile, the crossing edges carrying `local`'s in-tile value
    * at the crossing cell, and every border cell's in-tile trace end. */
  private def traceSummariesDs(padded: Dataset[Masked], cs: Double, local: Local)
      : Dataset[TraceSummary] = {
    import padded.sparkSession.implicits._
    padded.map { case (pt, stopIdx) =>
      val dirs = dirPlane(pt, cs)
      val (typ, term, cnc, cnd) = localTrace(pt, dirs, stopMask(pt, stopIdx))
      val (a, b) = local(pt, dirs, Map.empty)
      val crossing = Array.newBuilder[Crossing]
      var i = 0
      while (i < dirs.length) {
        if (typ(i) == 2 && term(i) == i) {
          val (dr, dc) = delta(dirs(i))
          crossing += (((pt.row0 + i / pt.w).toLong, (pt.col0 + i % pt.w).toLong,
            (pt.row0 + i / pt.w + dr).toLong, (pt.col0 + i % pt.w + dc).toLong, a(i), b(i)))
        }
        i += 1
      }
      val routing = Array.newBuilder[Route]
      var r = 0
      while (r < pt.h) {
        var c = 0
        while (c < pt.w) {
          val j = r * pt.w + c
          if ((r == 0 || r == pt.h - 1 || c == 0 || c == pt.w - 1) && typ(j) != 3)
            routing += (((pt.row0 + r).toLong, (pt.col0 + c).toLong, typ(j).toInt,
              (pt.row0 + term(j) / pt.w).toLong, (pt.col0 + term(j) % pt.w).toLong,
              cnc(j).toLong, cnd(j).toLong))
          c += 1
        }
        r += 1
      }
      TraceSummary(crossing.result(), routing.result())
    }
  }

  // ---------------------------------------------------------------------
  // The two crossing-graph solvers. Each operator states its summary and
  // its combine rule as Scala functions; the driver placement and the
  // distributed placement run the same functions.

  /** Node of an upstream fold: key (xr, xc); the crossing target (tr, tc)
    * the tile pass seeds; successor (sr, sc) when `hasSucc`; value (a, b);
    * and the carry (ea, eb) [[LongestRule]]'s message picks up on its way
    * to the successor (public for encoder derivation). */
  final case class FoldNode(xr: Long, xc: Long, tr: Long, tc: Long,
      hasSucc: Boolean, sr: Long, sc: Long, a: Long, b: Long, ea: Long, eb: Long)

  /** An upstream fold's combine rule: `send` is the message a final node
    * passes to its successor, `merge` folds a message into a value. `merge`
    * must be associative and commutative: the distributed placement folds
    * messages in batches, in any order. */
  private[operators] final case class FoldRule(send: FoldNode => (Long, Long),
      merge: ((Long, Long), (Long, Long)) => (Long, Long))

  /** flowAcc: a crossing passes its whole subtree count on. */
  private[operators] val SumRule = FoldRule(n => (n.a, n.b),
    (x, y) => (x._1 + y._1, x._2 + y._2))

  /** longestUpstream: max-plus under [[longer]]. */
  private[operators] val LongestRule = FoldRule(n => (n.a + n.ea, n.b + n.eb),
    (x, y) => if (longer(y._1, y._2, x._1, x._2)) y else x)

  /** Strahler order of a junction whose parents' orders fold to
    * (max, count of max): sources are 1; +1 when two or more parents
    * share the max. */
  private def strahler(max: Long, count: Long): Long =
    if (count == 0) 1L else max + (if (count >= 2) 1L else 0L)

  /** strahlerOrder's junction forest: (max, count-of-max) of the parents'
    * orders. */
  private[operators] val StrahlerRule = FoldRule(n => (strahler(n.a, n.b), 1L),
    (x, y) => if (y._1 > x._1) y else if (y._1 < x._1) x else (x._1, x._2 + y._2))

  /** Upstream fold over a functional forest: every node's value merged
    * with the message of each predecessor, sent once that predecessor is
    * final. Driver placement: Kahn's queue. Distributed placement: a
    * batched topological peel — each round finalizes every node no active
    * node points at and folds its messages into their targets; rounds =
    * forest depth, each over the still-active rows only. A message to a
    * key that is not a node is dropped; a cycle is rejected. */
  private[operators] def foldUpstream(nodes: Placed[FoldNode], rule: FoldRule)
      : Placed[FoldNode] = nodes match {
    case Left(ns) =>
      val index = ns.indices.iterator.map(i => (ns(i).xr, ns(i).xc) -> i).toMap
      val succ = ns.map(n => if (n.hasSucc) index.getOrElse((n.sr, n.sc), -1) else -1)
      val indeg = new Array[Int](ns.length)
      succ.foreach(s => if (s >= 0) indeg(s) += 1)
      val out = ns.clone()
      val queue = new java.util.ArrayDeque[Int]()
      ns.indices.foreach(i => if (indeg(i) == 0) queue.add(i))
      var seen = 0
      while (!queue.isEmpty) {
        val u = queue.poll()
        seen += 1
        val s = succ(u)
        if (s >= 0) {
          val (a, b) = rule.merge((out(s).a, out(s).b), rule.send(out(u)))
          out(s) = out(s).copy(a = a, b = b)
          indeg(s) -= 1
          if (indeg(s) == 0) queue.add(s)
        }
      }
      require(seen == ns.length, "crossing graph is cyclic — non-monotone dirs")
      Left(out)
    case Right(ds) =>
      import ds.sparkSession.implicits._
      // lazy checkpoints: each round's frontier count materializes both
      // the active rows and the frontier. The frontier reads `active` in
      // one scan (each row keyed by itself, and a blocker keyed by its
      // successor): an anti-join against its own successors would read the
      // uncomputed cut from two stages at once.
      var active = ds.localCheckpoint(false)
      var remaining = active.count()
      val done = scala.collection.mutable.ArrayBuffer[Dataset[FoldNode]]()
      while (remaining > 0) {
        val frontier = active.flatMap { n =>
            val self = Iterator.single(((n.xr, n.xc), Option(n)))
            if (n.hasSucc) self ++ Iterator.single(((n.sr, n.sc), Option.empty[FoldNode]))
            else self
          }.groupByKey(_._1).flatMapGroups { (_, it) =>
            val xs = it.map(_._2).toArray
            if (xs.exists(_.isEmpty)) Iterator.empty else xs.iterator.flatten
          }.localCheckpoint(false)
        val nf = frontier.count()
        require(nf > 0, "crossing graph is cyclic — non-monotone dirs")
        done += frontier
        // the rest, each with the messages addressed to it folded in; a
        // message travels as a (target key, message value) node flagged
        // true. Union + group, not an outer join: a join's size estimate
        // is the product of its sides and would compound every round.
        val msgs = frontier.filter(_.hasSucc).map { n =>
          val (a, b) = rule.send(n)
          (FoldNode(n.sr, n.sc, 0L, 0L, false, 0L, 0L, a, b, 0L, 0L), true)
        }
        active = active.join(frontier.select($"xr", $"xc"), Seq("xr", "xc"), "left_anti")
          .as[FoldNode].map((_, false)).union(msgs)
          .groupByKey(p => (p._1.xr, p._1.xc))
          .flatMapGroups { (_, it) =>
            val (ms, ns) = it.toArray.partition(_._2)
            ns.iterator.map { case (n, _) =>
              ms.foldLeft(n) { case (acc, (m, _)) =>
                val (a, b) = rule.merge((acc.a, acc.b), (m.a, m.b))
                acc.copy(a = a, b = b)
              }
            }
          }.localCheckpoint(false)
        remaining -= nf
      }
      Right(if (done.isEmpty) active else done.reduce(_ union _))
  }

  /** Row of a chain resolve: key (xr, xc). A done row carries its terminal
    * label (lr, lc), `ok` and its step counts (nc, nd); an active row points
    * (lr, lc) at another row, with (nc, nd) covering the segment up to it
    * (public for encoder derivation). */
  final case class ChainRow(xr: Long, xc: Long, done: Boolean, ok: Boolean,
      lr: Long, lc: Long, nc: Long, nd: Long)

  /** `x` followed through the row `t` it points at: t's pointer or
    * terminal, and the counts of both segments. */
  private def jump(x: ChainRow, t: ChainRow): ChainRow =
    x.copy(done = t.done, ok = t.ok, lr = t.lr, lc = t.lc, nc = x.nc + t.nc, nd = x.nd + t.nd)

  /** Chain resolve over a functional forest: every row followed to its
    * terminal by [[jump]]. Driver placement: a memoized walk. Distributed
    * placement: pointer doubling — each round every active row jumps
    * through the row it points at, O(log chain length) rounds, each one
    * self-join. A pointer to a missing row and a cycle are both
    * rejected. */
  private[operators] def resolveChains(rows: Placed[ChainRow]): Placed[ChainRow] =
    rows match {
      case Left(rs) =>
        val byKey = rs.iterator.map(r => (r.xr, r.xc) -> r).toMap
        val memo = scala.collection.mutable.HashMap[(Long, Long), ChainRow]()
        Left(rs.map { r0 =>
          val path = scala.collection.mutable.ArrayBuffer[ChainRow]()
          var cur = r0
          while (!cur.done && !memo.contains((cur.xr, cur.xc))) {
            require(path.length < rs.length, "chain resolve cycle — non-monotone dirs")
            path += cur
            cur = byKey.getOrElse((cur.lr, cur.lc), throw new IllegalStateException(
              s"chain row (${cur.xr},${cur.xc}) points at no row (${cur.lr},${cur.lc})"))
          }
          var end = memo.getOrElse((cur.xr, cur.xc), cur)
          var k = path.length - 1
          while (k >= 0) {
            end = jump(path(k), end)
            memo((end.xr, end.xc)) = end
            k -= 1
          }
          end
        })
      case Right(ds) =>
        import ds.sparkSession.implicits._
        // lazy checkpoints: the per-round remaining-count materializes the
        // checkpoint as a side effect
        var l = ds.localCheckpoint(false)
        var remaining = l.filter(!_.done).count()
        while (remaining > 0) {
          l = l.as("x").joinWith(l.as("t"), $"x.lr" === $"t.xr" && $"x.lc" === $"t.xc",
              "left_outer")
            .map { case (x, t) =>
              if (x.done) x
              else if (t == null) throw new IllegalStateException(
                s"chain row (${x.xr},${x.xc}) points at no row (${x.lr},${x.lc})")
              else jump(x, t)
            }.localCheckpoint(false)
          val next = l.filter(!_.done).count()
          require(next < remaining, "pointer doubling stalled — chain resolve cycle")
          remaining = next
        }
        Right(l)
    }

  // ---------------------------------------------------------------------
  // Each tile operator's summary: how a crossing becomes a solver row.

  /** The crossing graph: `node(crossing, its target's routing row)` per
    * crossing edge, the routing row null when there is none — a route map
    * on the driver, a left equi-join distributed. The driver holds both:
    * where border cells drain inward, crossings << routing rows. */
  private def crossingGraph[N: Encoder: ClassTag](op: String,
      summaries: Dataset[TraceSummary])(node: (Crossing, Route) => N): Placed[N] =
    DriverGate.place(s"$op crossing graph", summaries)(s =>
      s.crossing.length * 300L + s.routing.length * 220L) match {
      case Left(s) =>
        val route = s.iterator.flatMap(_.routing).map(r => (r._1, r._2) -> r).toMap
        Left(s.flatMap(_.crossing).map(x => node(x, route.getOrElse((x._3, x._4), null))))
      case Right(ds) =>
        import ds.sparkSession.implicits._
        val cross = ds.flatMap(_.crossing)
        val route = ds.flatMap(_.routing)
        Right(cross.joinWith(route, cross("_3") === route("_1") && cross("_4") === route("_2"),
          "left_outer").map { case (x, r) => node(x, r) })
    }

  /** Fold node of crossing `x`: its in-tile value; its successor, the exit
    * crossing its target's path reaches; its carry, x's step plus that path. */
  private def foldNode(x: Crossing, r: Route): FoldNode = {
    val (sc, sd) = step(x._1, x._2, x._3, x._4)
    val next = r != null && r._3 == 2
    FoldNode(x._1, x._2, x._3, x._4, next, if (next) r._4 else 0L, if (next) r._5 else 0L,
      x._5, x._6, sc + (if (r == null) 0L else r._6), sd + (if (r == null) 0L else r._7))
  }

  /** Chain row of crossing `x`: done (ok) where its target's path ends at
    * a `terminal` cell, done (not ok) at any other end, else pointing at
    * the exit crossing; counts cover x's step plus the target's path. */
  private def chainRow(terminal: Int)(x: Crossing, r: Route): ChainRow = {
    if (r == null)
      throw new IllegalStateException(s"no routing for crossing target (${x._3},${x._4})")
    val (sc, sd) = step(x._1, x._2, x._3, x._4)
    ChainRow(x._1, x._2, r._3 != 2, r._3 == terminal, r._4, r._5, sc + r._6, sd + r._7)
  }

  /** Pass 2: `kernel` on every tile with the solved seeds it owns, keyed by
    * cell, duplicates folded by `merge`, cut once, eagerly, one row per
    * tile. Driver-placed seeds reach the tiles in one broadcast, released
    * after the cut; distributed ones by an equi-join on the owning tile's
    * cell id, so they never land on the driver. */
  private def seeded[V, B](padded: Dataset[Masked], res: Int,
      seeds: Placed[((Long, Long), V)], merge: (V, V) => V)
      (kernel: (Masked, scala.collection.Map[(Long, Long), V]) => B)
      (implicit byTileEnc: Encoder[(Long, Array[((Long, Long), V)])],
          blockEnc: Encoder[B]): Dataset[B] = {
    import padded.sparkSession.implicits._
    seeds match {
      case Left(s) =>
        val bc = padded.sparkSession.sparkContext.broadcast(s.groupMapReduce(_._1)(_._2)(merge))
        try padded.map(p => kernel(p, bc.value)).localCheckpoint(true)
        finally bc.destroy()
      case Right(ds) =>
        val byTile = ds.groupByKey(s => CellId.ofPixel(s._1._1, s._1._2, res))
          .mapGroups((cid, it) => (cid, it.toArray))
        padded.joinWith(byTile, padded("_1.cellId") === byTile("_1"), "left_outer")
          .map { case (p, t) =>
            kernel(p, if (t == null) Map.empty else t._2.groupMapReduce(_._1)(_._2)(merge))
          }.localCheckpoint(true)
    }
  }

  /** Body of [[flowAcc]] and [[longestUpstream]]: `local` per tile, an
    * upstream fold of the crossing graph under `rule`, then `local` again
    * with each entry cell seeded by `seed` of the crossings into it
    * (merged by the rule). Columns (row, col, a, b), every valid cell: the
    * cells of the per-tile cut. */
  private def upstreamTiles(op: String, tiles: Dataset[Tile], ref: GridRef, res: Int,
      rule: FoldRule, local: Local)(seed: FoldNode => (Long, Long))
      : DataFrame = {
    import tiles.sparkSession.implicits._
    val cs = ref.cellsize
    val blocks = Owned { own =>
      val padded = own.reuse(masked(tiles, ref, res, None))
      val summaries = own.reuse(traceSummariesDs(padded, cs, local))
      val nodes = crossingGraph(op, summaries)(foldNode)
      val seeds = DriverGate.mapPlaced(foldUpstream(nodes, rule))(n => ((n.tr, n.tc), seed(n)))
      seeded(padded, res, seeds, rule.merge) { case ((pt, _), m) =>
        val dirs = dirPlane(pt, cs)
        val (a, b) = local(pt, dirs, m)
        (pt.row0, pt.col0, pt.w, a, b, dirs)
      }.toDF("row0", "col0", "w", "a", "b", "dir")
    }
    CellView(blocks, LongType, Seq("a", "b", "dir"), Some(col("dir") >= 0)).drop("dir")
  }

  /** Body of [[downstream]] and [[nearestDrainage]]: every valid cell whose
    * D8 path ends at a `terminal` cell (1 pit, 4 stop cell), with that cell
    * and the exact step counts to it — `localTrace` per tile, a chain
    * resolve of the crossing graph, and `localTrace` again finishing every
    * path that leaves its tile; the cells of the per-tile cut. Columns
    * (row, col, er, ec, ncard, ndiag). */
  private def traceTiles(op: String, tiles: Dataset[Tile], ref: GridRef, res: Int,
      stops: Option[Dataset[(Long, Array[Int])]], terminal: Int): DataFrame = {
    import tiles.sparkSession.implicits._
    val cs = ref.cellsize
    val blocks = Owned { own =>
      val padded = own.reuse(masked(tiles, ref, res, stops))
      val summaries = own.reuse(traceSummariesDs(padded, cs, NoLocal))
      val rows = crossingGraph(op, summaries)(chainRow(terminal))
      val seeds = DriverGate.mapPlaced(resolveChains(rows))(r => ((r.xr, r.xc), r))
      seeded(padded, res, seeds, (a: ChainRow, _: ChainRow) => a) { case ((pt, stopIdx), m) =>
        val dirs = dirPlane(pt, cs)
        val (typ, term, cnc, cnd) = localTrace(pt, dirs, stopMask(pt, stopIdx))
        // er = -1 marks a cell with no answer
        val (er, ec, nc, nd) = (Array.fill(dirs.length)(-1L), new Array[Long](dirs.length),
          new Array[Long](dirs.length), new Array[Long](dirs.length))
        def emit(i: Int, r: Long, c: Long, ncard: Long, ndiag: Long): Unit = {
          er(i) = r; ec(i) = c; nc(i) = ncard; nd(i) = ndiag
        }
        var i = 0
        while (i < dirs.length) {
          val (tr, tc) = ((pt.row0 + term(i) / pt.w).toLong, (pt.col0 + term(i) % pt.w).toLong)
          if (typ(i) == terminal) emit(i, tr, tc, cnc(i).toLong, cnd(i).toLong)
          else if (typ(i) == 2) {
            val x = m((tr, tc))
            if (x.ok) emit(i, x.lr, x.lc, cnc(i) + x.nc, cnd(i) + x.nd)
          }
          i += 1
        }
        (pt.row0, pt.col0, pt.w, er, ec, nc, nd)
      }.toDF("row0", "col0", "w", "er", "ec", "ncard", "ndiag")
    }
    CellView(blocks, LongType, Seq("er", "ec", "ncard", "ndiag"), Some(col("er") >= 0))
  }

  /** D8 flow accumulation: (row, col, acc) for every valid cell; acc
    * includes the cell itself. */
  def flowAcc(tiles: Dataset[Tile], ref: GridRef, res: Int): DataFrame =
    upstreamTiles("Flow.flowAcc", tiles, ref, res, SumRule,
      (pt, dirs, seeds) => (localAcc(pt, dirs, seeds), new Array[Long](dirs.length)))(
      n => (n.a, n.b))
      .select(col("row"), col("col"), col("a").as("acc"))

  /** Watershed + downstream flow length: for every valid cell, the basin
    * outlet (terminal pit) its D8 path drains to and the path step counts
    * to that outlet — `(row, col, basin_r, basin_c, ncard, ndiag)`. Pits
    * map to themselves with (0, 0). Same condensation scale shape as
    * [[flowAcc]], with a chain resolve for the crossing solve. */
  def downstream(tiles: Dataset[Tile], ref: GridRef, res: Int): DataFrame =
    traceTiles("Flow.downstream", tiles, ref, res, None, terminal = 1)
      .toDF("row", "col", "basin_r", "basin_c", "ncard", "ndiag")

  /** Longest upstream drainage path per cell (time-of-concentration /
    * hydraulic-length analog): `(row, col, ncard, ndiag)` of the longest
    * weighted path `nc + nd*sqrt2` ending at the cell; ridge cells (0,0);
    * ties broken to the larger cardinal count. Max-plus condensation over
    * crossing edges, mirroring [[flowAcc]]'s sum solve. */
  def longestUpstream(tiles: Dataset[Tile], ref: GridRef, res: Int): DataFrame =
    upstreamTiles("Flow.longestUpstream", tiles, ref, res, LongestRule, localLongest)({ n =>
      val (sc, sd) = step(n.xr, n.xc, n.tr, n.tc)
      (n.a + sc, n.b + sd)
    }).toDF("row", "col", "ncard", "ndiag")

  // ---------------------------------------------------------------------
  // Depression filling (Priority-Flood) — the standard DEM-conditioning
  // step before D8 routing (Barnes, Lehman & Mulla 2014; the two-pass
  // tile shape follows Barnes 2016). The filled surface is the minimax
  // fixpoint  fill(c) = max(z(c), min over 8-neighbors fill(n))
  // with fill = z on DRAIN cells (grid border or NaN-adjacent — NODATA is
  // treated as ocean). Fill values are max/min selections of input z
  // values (no arithmetic), so results are bit-exact cross-engine.

  /** Spill-graph row's `b` for a drain seed: terminal `a` reaches a drain
    * at height `w`. */
  private val Drain = -1L

  /** Priority-Flood over one padded tile (its halo NaN off-grid and at
    * NODATA). `seed(i, drain)` gives valid cell i's starting value (+inf
    * for none) and label; a cell is a drain when an 8-neighbor is NaN.
    * The lowest value grows outward, `v(j) = max(z(j), v(u))`, handing on
    * its label; `meet(a, b, w)` sees every pair of done neighbors with
    * different labels a, b, meeting at height w. Returns v per local index
    * (NaN at NODATA); v does not depend on tie order. */
  private def flood(pf: Stencil.Padded)(seed: (Int, Boolean) => (Double, Long))
      (meet: (Long, Long, Double) => Unit): Array[Double] = {
    val h = pf.h
    val w = pf.w
    val n = h * w
    val z = new Array[Double](n)
    val cand = new Array[Double](n)
    val lab = new Array[Long](n)
    val done = new Array[Boolean](n)
    val pq = new java.util.PriorityQueue[(Double, Int)](
      (a: (Double, Int), b: (Double, Int)) => java.lang.Double.compare(a._1, b._1))
    var i = 0
    while (i < n) {
      z(i) = pf.at(pf.row0 + i / w, pf.col0 + i % w)
      if (z(i).isNaN) cand(i) = Double.NaN
      else {
        var drain = false
        var k = 0
        while (k < 8 && !drain) {
          val (_, dr, dc) = D8(k)
          if (pf.at(pf.row0 + i / w + dr, pf.col0 + i % w + dc).isNaN) drain = true
          k += 1
        }
        val (v, l) = seed(i, drain)
        cand(i) = v
        lab(i) = l
        if (v != Double.PositiveInfinity) pq.add((v, i))
      }
      i += 1
    }
    while (!pq.isEmpty) {
      val (v, u) = pq.poll()
      if (!done(u) && v == cand(u)) {
        done(u) = true
        val ur = u / w
        val uc = u % w
        var k = 0
        while (k < 8) {
          val (_, dr, dc) = D8(k)
          val rr = ur + dr
          val cc = uc + dc
          if (rr >= 0 && rr < h && cc >= 0 && cc < w) {
            val j = rr * w + cc
            if (!z(j).isNaN) {
              if (!done(j)) {
                val cnd = math.max(z(j), v)
                if (cnd < cand(j)) { cand(j) = cnd; lab(j) = lab(u); pq.add((cnd, j)) }
              } else if (lab(j) != lab(u)) meet(lab(u), lab(j), math.max(v, cand(j)))
            }
          }
          k += 1
        }
      }
    }
    cand
  }

  private def isEdge(pf: Stencil.Padded, i: Int): Boolean = {
    val r = i / pf.w
    val c = i % pf.w
    r == 0 || r == pf.h - 1 || c == 0 || c == pf.w - 1
  }

  /** Pass-1 kernel: the tile's spill graph (Barnes 2016) as rows (a, b, w).
    * Its terminals are the valid tile-edge cells, keyed by global cell
    * index `row * ncols + col`. A multi-seed flood labels every valid cell
    * with the terminal (or, from an interior drain, [[Drain]]) of minimal
    * flood value; the min-saddle between two labels is an edge, so the
    * graph keeps the pairwise minimax between terminals. A row with
    * b = [[Drain]] is a drain seed: a drain terminal at its z, or a saddle
    * against an interior drain. Each terminal also has an edge of weight
    * max(z, z') to every valid 8-neighbor in another tile (z' read from
    * the halo); the end with the smaller key emits it, so the union over
    * all tiles holds each cross-tile edge once. */
  private def tileSpillGraph(pf: Stencil.Padded, ncols: Long)
      : Iterator[(Long, Long, Double)] = {
    val out = Array.newBuilder[(Long, Long, Double)]
    val saddle = scala.collection.mutable.HashMap.empty[(Long, Long), Double]
    flood(pf) { (i, drain) =>
      val r = pf.row0 + i / pf.w
      val c = pf.col0 + i % pf.w
      val zi = pf.at(r, c)
      if (isEdge(pf, i)) {
        val key = r.toLong * ncols + c
        if (drain) out += ((key, Drain, zi))
        var k = 0
        while (k < 8) {
          val (_, dr, dc) = D8(k)
          val (rr, cc) = (r + dr, c + dc)
          val zn = pf.at(rr, cc)
          val nk = rr.toLong * ncols + cc
          val outside = rr < pf.row0 || rr >= pf.row0 + pf.h ||
            cc < pf.col0 || cc >= pf.col0 + pf.w
          if (outside && !zn.isNaN && key < nk) out += ((key, nk, math.max(zi, zn)))
          k += 1
        }
        (zi, key)
      } else if (drain) (zi, Drain)
      else (Double.PositiveInfinity, 0L)
    } { (a, b, sw) =>
      // (max, min): a saddle against the Drain label lands in the b slot
      val p = if (a < b) (b, a) else (a, b)
      if (sw < saddle.getOrElse(p, Double.PositiveInfinity)) saddle(p) = sw
    }
    saddle.foreach { case ((a, b), sw) => out += ((a, b, sw)) }
    out.result().iterator
  }

  /** Pass-2 kernel: the tile re-flooded from its terminals' solved fills
    * (and its interior drains at z). */
  private def refloodTile(pf: Stencil.Padded,
      bfill: scala.collection.Map[(Long, Long), Double]): Tile = {
    val fill = flood(pf) { (i, drain) =>
      val r = pf.row0 + i / pf.w
      val c = pf.col0 + i % pf.w
      val s = if (isEdge(pf, i)) bfill.getOrElse((r.toLong, c.toLong), Double.PositiveInfinity)
        else Double.PositiveInfinity
      (if (drain) math.min(s, pf.at(r, c)) else s, 0L)
    }((_, _, _) => ())
    Tile(pf.cellId, pf.row0, pf.col0, pf.h, pf.w, fill)
  }

  /** Minimax distance to a drain (Dijkstra with max in place of +) over
    * the undirected `edges` (a, b, w): each node reached from a seed
    * (node, value) gets the least, over its paths to a seed, of the
    * largest of the seed's value and the path's edge weights. */
  private def minimaxToDrain(seeds: Iterator[(Long, Double)],
      edges: Iterable[(Long, Long, Double)]): scala.collection.Map[Long, Double] = {
    val adj = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.ArrayBuffer[(Long, Double)]]
    def nbrs(k: Long) = adj.getOrElseUpdate(k, scala.collection.mutable.ArrayBuffer.empty)
    edges.foreach { case (a, b, w) => nbrs(a) += ((b, w)); nbrs(b) += ((a, w)) }
    val dist = scala.collection.mutable.HashMap.empty[Long, Double]
    val pq = new java.util.PriorityQueue[(Double, Long)](
      (a: (Double, Long), b: (Double, Long)) => java.lang.Double.compare(a._1, b._1))
    def offer(k: Long, v: Double): Unit =
      if (v < dist.getOrElse(k, Double.PositiveInfinity)) { dist(k) = v; pq.add((v, k)) }
    seeds.foreach { case (k, v) => offer(k, v) }
    while (!pq.isEmpty) {
      val (v, u) = pq.poll()
      if (v == dist(u)) adj.get(u).foreach(_.foreach { case (nb, w) => offer(nb, math.max(v, w)) })
    }
    dist
  }

  /** A tile's row in the distributed fill solve: the spill-graph rows
    * touching its terminals (its own and every cross-tile edge to it), its
    * terminals' current fills, and the seeds (terminal, value) it sends
    * this round over cross-tile edges. */
  private final case class FillTile(cellId: Long, graph: Array[(Long, Long, Double)],
      fill: Array[(Long, Double)], sent: Array[(Long, Double)])

  /** One round of a tile: [[minimaxToDrain]] over its graph, seeded with
    * its drain rows, its current fills and the `inbox`; every terminal
    * whose fill went down sends max(fill, w) across each of its
    * cross-tile edges. Fills only go down. */
  private def relaxTile(t: FillTile, inbox: Iterator[(Long, Double)],
      tileOf: Long => Long): FillTile = {
    val own = (k: Long) => tileOf(k) == t.cellId
    val (drains, edges) = t.graph.partition(_._2 == Drain)
    val dist = minimaxToDrain(
      drains.iterator.map(d => (d._1, d._3)) ++ t.fill.iterator ++ inbox, edges)
    val old = t.fill.toMap
    val fill = dist.iterator.filter(kv => own(kv._1)).toArray
    val changed = fill.iterator
      .filter { case (k, f) => f < old.getOrElse(k, Double.PositiveInfinity) }.toMap
    val sent = edges.flatMap { case (a, b, w) =>
      if (!own(b)) changed.get(a).map(f => (b, math.max(f, w)))
      else if (!own(a)) changed.get(b).map(f => (a, math.max(f, w)))
      else None
    }
    FillTile(t.cellId, t.graph, fill, sent)
  }

  /** Depression-filled DEM: `(row, col, fill)` for every valid cell, via
    * [[fillSinksTiles]]. */
  def fillSinks(tiles: Dataset[Tile], ref: GridRef, res: Int): DataFrame =
    CellView.ofTiles(fillSinksTiles(tiles, ref, res), "fill", LongType)

  /** [[fillSinks]] keeping the tile representation (for pipelines that
    * continue with routing over the conditioned surface).
    *
    * Two-pass parallel Priority-Flood (Barnes 2016), the tile-condensation
    * shape: pass 1 condenses each tile to its spill graph
    * ([[tileSpillGraph]]: O(perimeter) terminals, the same ~4/2^res
    * fraction as a halo, with min-saddle edges inside the tile and the
    * edges to neighbor-tile terminals); [[minimaxToDrain]] solves every
    * terminal's fill; pass 2 re-floods each tile once from its terminals'
    * fills ([[seeded]]). While the estimated border cells fit the
    * [[DriverGate]] budget, one solve runs on the driver over the union of
    * the graphs. Above it, each tile's graph is one row and the solve runs
    * in rounds: a tile re-solves its graph with the fills its neighbors
    * sent over cross-tile edges, and sends on the fills that went down,
    * until none does — rounds grow with the number of tiles a drainage
    * path crosses, each moving O(perimeter) rows. The fixpoint is unique,
    * so both placements give the same bits (FlowSpec gates both against a
    * Jacobi oracle). */
  def fillSinksTiles(tiles: Dataset[Tile], ref: GridRef, res: Int): Dataset[Tile] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val ncols = ref.ncols.toLong
    val op = "Flow.fillSinksTiles"
    val tileCount = (((ref.ncols - 1) >> res) + 1).toLong * (((ref.nrows - 1) >> res) + 1)
    val terminals = tileCount * (4L << res)
    def tileOf(k: Long): Long = CellId.ofPixel(k / ncols, k % ncols, res)
    def cell(k: Long): (Long, Long) = (k / ncols, k % ncols)
    Owned { own =>
      val padded = own.reuse(masked(tiles, ref, res, None))
      val rows = padded.flatMap { case (pf, _) => tileSpillGraph(pf, ncols) }
      // 1,200 bytes an estimated border cell (measured at most 932)
      val seeds: Placed[((Long, Long), Double)] =
        if (DriverGate.fits(spark, op, terminals * 1200)) {
          val (drains, edges) = rows.collect().partition(_._2 == Drain)
          Left(minimaxToDrain(drains.iterator.map(d => (d._1, d._3)), edges)
            .iterator.map { case (k, f) => (cell(k), f) }.toArray)
        } else {
          // one row per tile, hash-partitioned by tile id and kept in place:
          // a round shuffles only the messages, partitioned the same way
          val part = new org.apache.spark.HashPartitioner(spark.sparkContext.defaultParallelism)
          var state = rows.rdd
            .flatMap(e => if (e._2 == Drain) Iterator((tileOf(e._1), e))
              else Iterator(tileOf(e._1), tileOf(e._2)).distinct.map((_, e)))
            .groupByKey(part)
            .mapPartitions(_.map { case (cid, es) =>
              (cid, relaxTile(FillTile(cid, es.toArray, Array.empty, Array.empty), Iterator.empty,
                tileOf))
            }, preservesPartitioning = true)
            .localCheckpoint()
          // each round's count fills its lazy cut; a round sends only the
          // fills that went down, and an optimal path crosses at most
          // `terminals` cross-tile edges
          def sent(round: Int): Long = DriverGate.labelled(spark, s"$op: distributed round $round")(
            state.values.flatMap(_.sent).count())
          var round = 1
          while (sent(round) > 0) {
            round += 1
            require(round <= terminals + 1, s"$op: no fixpoint in ${terminals + 1} rounds")
            val inbox = state.values.flatMap(_.sent.iterator.map(m => (tileOf(m._1), m)))
              .partitionBy(part)
            state = state.zipPartitions(inbox, preservesPartitioning = true) { (ts, ms) =>
              val byTile = ms.toArray.groupMap(_._1)(_._2)
              ts.map { case (cid, t) => (cid, byTile.get(cid)
                .fold(t.copy(sent = Array.empty))(m => relaxTile(t, m.iterator, tileOf))) }
            }.localCheckpoint()
          }
          Right(spark.createDataset(
            state.values.flatMap(_.fill.map { case (k, f) => (cell(k), f) })))
        }
      seeded(padded, res, seeds, math.min(_: Double, _: Double)) { case ((pf, _), m) =>
        refloodTile(pf, m)
      }
    }
  }

  /** Nearest drainage along the D8 path — the routing core of HAND (Height
    * Above Nearest Drainage, Rennó et al. 2008): for every valid cell whose
    * downstream path touches a stream cell (flow accumulation >=
    * `threshold`), the FIRST stream cell touched and the exact step counts
    * to it — `(row, col, stream_r, stream_c, ncard, ndiag)`. Stream cells
    * map to themselves with (0, 0); cells draining to a pit without
    * crossing a stream are omitted (HAND undefined). Same condensation
    * scale shape as [[downstream]], with tile-local traces that STOP at
    * stream cells — the stream mask arrives per tile via an equi-join on
    * the tile cell id (never collected). */
  def nearestDrainage(tiles: Dataset[Tile], ref: GridRef, res: Int,
      threshold: Long): DataFrame = {
    import tiles.sparkSession.implicits._
    val size = 1 << res
    val ncols = ref.ncols
    // per-tile stream mask as LOCAL indices, keyed by the owning tile's id
    val stops = flowAcc(tiles, ref, res).where($"acc" >= threshold)
      .select($"row", $"col").as[(Long, Long)]
      .map { case (r, c) =>
        val col0 = (c >> res) << res
        val w = math.min(size.toLong, ncols - col0)
        (CellId.ofPixel(r, c, res), ((r - ((r >> res) << res)) * w + (c - col0)).toInt)
      }
      .groupByKey(_._1).mapValues(_._2).mapGroups((cid, it) => (cid, it.toArray))
    traceTiles("Flow.nearestDrainage", tiles, ref, res, Some(stops), terminal = 4)
      .toDF("row", "col", "stream_r", "stream_c", "ncard", "ndiag")
  }

  /** Strahler stream order (Strahler 1957): for every stream cell (flow
    * accumulation >= `threshold`), its order in the D8 stream forest —
    * sources are 1; a confluence takes the max parent order, +1 when two
    * or more parents share that max; chain cells (exactly one stream
    * parent) carry their chain head's order unchanged.
    *
    * Scale shape, three stages:
    *   1. classify: stream cells with in-degree != 1 are NODES (sources,
    *      junctions); in-degree-1 cells are CHAIN cells with a unique
    *      parent pointer.
    *   2. a chain resolve UP the parent pointers ([[resolveChains]], zero
    *      counts) gives every stream cell its chain HEAD node.
    *   3. an upstream fold of the junction forest ([[foldUpstream]] under
    *      [[StrahlerRule]]): a node's successor is the node its chain
    *      enters; O(#nodes) rows.
    * Each solve runs on the driver while its rows fit the [[DriverGate]]
    * budget; above it, pointer doubling and the batched topological peel
    * run on the cluster. */
  def strahlerOrder(tiles: Dataset[Tile], ref: GridRef, res: Int,
      threshold: Long): DataFrame = {
    val spark = tiles.sparkSession
    import spark.implicits._
    // ONE flowAcc feeds both the channel mask and the edge set (calling
    // streamNetwork here would run the whole tile condensation twice)
    val streamCells = flowAcc(tiles, ref, res).where($"acc" >= threshold)
      .select($"row", $"col")
    Owned { own =>
      val net = own.reuse(streamCells.join(flowDir(tiles, ref, res).where($"dir" > 0),
        Seq("row", "col"))
        .select($"row", $"col",
          ($"row" + expr(D8RowCase)).as("to_r"),
          ($"col" + expr(D8ColCase)).as("to_c")))
      // filled by one job: the chain below reads it from concurrent
      // stages, whose tasks would otherwise fill each block side by side
      net.count()
      val indeg = net.groupBy($"to_r".as("row"), $"to_c".as("col"))
        .agg(count(lit(1)).as("indeg"))
      val deg = streamCells.join(indeg, Seq("row", "col"), "left")
        .na.fill(0L, Seq("indeg"))
      val parents = net.select($"to_r".as("row"), $"to_c".as("col"),
        $"row".as("pr"), $"col".as("pc"))
      // nodes head themselves; chain cells point at their unique parent
      val chain = deg.where($"indeg" =!= 1)
        .select($"row", $"col", lit(true).as("done"), $"row".as("pr"), $"col".as("pc"))
        .unionByName(deg.where($"indeg" === 1).join(parents, Seq("row", "col"))
          .select($"row", $"col", lit(false).as("done"), $"pr", $"pc"))
        .select($"row".as("xr"), $"col".as("xc"), $"done", lit(true).as("ok"),
          $"pr".as("lr"), $"pc".as("lc"), lit(0L).as("nc"), lit(0L).as("nd"))
        .as[ChainRow]
      val heads = DriverGate.toDs(spark, resolveChains(
          DriverGate.placeRows("Flow.strahlerOrder chain heads", chain, 320L)))
        .select($"xr".as("row"), $"xc".as("col"), $"lr".as("hr"), $"lc".as("hc"))
      val nodes = heads.where($"row" === $"hr" && $"col" === $"hc")
        .select($"row".as("xr"), $"col".as("xc"))
      // the node each chain enters: the target of its last edge
      val enters = net.join(heads, Seq("row", "col"))
        .join(nodes.select($"xr".as("to_r"), $"xc".as("to_c")), Seq("to_r", "to_c"))
        .select($"hr".as("xr"), $"hc".as("xc"), $"to_r".as("sr"), $"to_c".as("sc"))
      val forest = nodes.join(enters, Seq("xr", "xc"), "left")
        .select($"xr", $"xc", lit(0L).as("tr"), lit(0L).as("tc"),
          $"sr".isNotNull.as("hasSucc"), coalesce($"sr", lit(0L)).as("sr"),
          coalesce($"sc", lit(0L)).as("sc"), lit(0L).as("a"), lit(0L).as("b"),
          lit(0L).as("ea"), lit(0L).as("eb"))
        .as[FoldNode]
      val orders = DriverGate.toDs(spark, foldUpstream(
          DriverGate.placeRows("Flow.strahlerOrder junctions", forest, 360L), StrahlerRule))
        .map(n => (n.xr, n.xc, strahler(n.a, n.b))).toDF("hr", "hc", "strahler")
      heads.join(orders, Seq("hr", "hc"))
        .select($"row", $"col", $"strahler")
        .localCheckpoint(true)
    }
  }

  /** Stream-network extraction: the D8 edges whose source cell's flow
    * accumulation meets `threshold` — `(row, col, to_r, to_c, acc)`. The
    * classic channel-initiation rule (acc >= support area). One join of
    * [[flowAcc]] and [[flowDir]] on the cell key. */
  def streamNetwork(tiles: Dataset[Tile], ref: GridRef, res: Int,
      threshold: Long): DataFrame = {
    import tiles.sparkSession.implicits._
    val acc = flowAcc(tiles, ref, res).where($"acc" >= threshold)
    val dir = flowDir(tiles, ref, res).where($"dir" > 0)
      .select($"row", $"col", $"dir")
    acc.join(dir, Seq("row", "col"))
      .select($"row", $"col",
        ($"row" + expr(D8RowCase)).as("to_r"),
        ($"col" + expr(D8ColCase)).as("to_c"),
        $"acc")
  }
}
