package graft
package gated

import org.apache.spark.sql.functions._
import graft.core._
import graft.corpus.Synth
import graft.operators.{Contour, Flow, Stencil, TileFns, TileOps}
import Fixtures.{tileRes, demTiles}

/** Flow and terrain gates (r): D8 routing and its derived products
  * (accumulation, watershed, streams, flow length, fill, conditioned
  * direction, zonal stats, HAND, Strahler, TWI, tabulation), cost
  * distance, and terrain derivatives (gradient, terrain indices, contour,
  * curvature, aspect, viewshed, TPI, hillshade) over the DEM fixture. The
  * D8 and fill oracles share the CTE blocks below, so a direction or fill
  * rule can never desynchronize between two queries. */
object TerrainGates {

  /** Just the DEM fixture grid (NULL at the NaN holes) — the shared base
    * of every D8/fill oracle. */
  private def demGridCte: String = {
    val nc = Synth.demRef.ncols
    s"""g AS MATERIALIZED (
       |  SELECT (i // $nc) AS r, (i % $nc) AS c,
       |         CASE WHEN (i % 97) = 13 THEN NULL
       |              ELSE (((i // $nc) * 31 + (i % $nc) * 17) % 1000) / 4.0 END AS v
       |  FROM range(${Synth.demRef.nrows.toLong * nc}) t(i))""".stripMargin
  }

  /** Shared D8 CTE block (DEM fixture + candidate drops + per-cell best
    * direction), interpolated into BOTH the r24 and r25 oracles so the
    * direction rule can never desynchronize between them. Drops use the
    * engine's exact operand order — `(z - zn) / (5.0 * sqrt(2.0))` for
    * diagonals — so every compared double is bit-identical cross-engine
    * (dyadic z, IEEE exact-rounded sqrt). MATERIALIZED keeps DuckDB from
    * re-inlining the fixture grid into each join (50x). */
  private def d8Ctes: String = {
    s"""$demGridCte,
       |dd(code, dr, dc) AS (VALUES (1,0,1),(2,1,1),(4,1,0),(8,1,-1),
       |                            (16,0,-1),(32,-1,-1),(64,-1,0),(128,-1,1)),
       |cand AS (
       |  SELECT a.r, a.c, d.code, d.dr, d.dc,
       |         (a.v - b.v) / (CASE WHEN d.dr != 0 AND d.dc != 0
       |                             THEN 5.0 * sqrt(2.0) ELSE 5.0 END) AS dp
       |  FROM g a JOIN dd d ON true
       |  JOIN g b ON b.r = a.r + d.dr AND b.c = a.c + d.dc
       |  WHERE a.v IS NOT NULL AND b.v IS NOT NULL),
       |best AS MATERIALIZED (
       |  SELECT r, c, code, dr, dc, dp,
       |         row_number() OVER (PARTITION BY r, c ORDER BY dp DESC, code ASC) AS rn
       |  FROM cand)""".stripMargin
  }

  /** The D8 downstream walk with step counts, shared by the r25/r26/r27/
    * r28 oracles (one closure definition — the queries can never
    * desynchronize on the edge set or the count rule). Each walk row is
    * (start cell, cell on its path, cardinal/diagonal steps start->cell);
    * terminates because z strictly decreases along every edge. */
  private def d8WalkCtes: String =
    s"""$d8Ctes,
       |edges AS MATERIALIZED (
       |  SELECT r, c, r + dr AS r2, c + dc AS c2,
       |         CASE WHEN dr != 0 AND dc != 0 THEN 1 ELSE 0 END AS diag
       |  FROM best WHERE rn = 1 AND dp > 0),
       |walk AS (
       |  SELECT r AS sr, c AS sc, r, c, 0 AS ncard, 0 AS ndiag
       |  FROM g WHERE v IS NOT NULL
       |  UNION ALL
       |  SELECT w.sr, w.sc, e.r2, e.c2, w.ncard + 1 - e.diag, w.ndiag + e.diag
       |  FROM walk w JOIN edges e ON w.r = e.r AND w.c = e.c)""".stripMargin

  /** The r29 Jacobi-relaxation fill CTE block (f_{k+1}(c) = min(f_k(c),
    * max(z(c), min over 8-neighbors f_k(n))), f_0 = z on drains — grid
    * border / NODATA-adjacent — else 1e30, fixed 60 rounds; the fixture
    * converges in 36). Shared by the r29 and r33 oracles. The recursive
    * term carries each cell's contribution to itself (offset 0,0) and to
    * its neighbors, then one aggregate per target cell — DuckDB allows
    * aggregates in the recursive term. Final state: `fs` at `it = 60`. */
  private def jacobiFillCtes: String = {
    val nr = Synth.demRef.nrows
    val nc = Synth.demRef.ncols
    s"""$demGridCte,
       |dd9(dr, dc, self) AS (VALUES (0,0,1),(0,1,0),(1,1,0),(1,0,0),(1,-1,0),
       |                             (0,-1,0),(-1,-1,0),(-1,0,0),(-1,1,0)),
       |cells AS MATERIALIZED (
       |  SELECT a.r, a.c, a.v,
       |    (a.r = 0 OR a.r = ${nr - 1} OR a.c = 0 OR a.c = ${nc - 1} OR EXISTS (
       |      SELECT 1 FROM dd9 d JOIN g n
       |      ON n.r = a.r + d.dr AND n.c = a.c + d.dc
       |      WHERE d.self = 0 AND n.v IS NULL)) AS drain
       |  FROM g a WHERE a.v IS NOT NULL),
       |fs AS (
       |  SELECT 0 AS it, r, c, CASE WHEN drain THEN v ELSE 1e30 END AS f
       |  FROM cells
       |  UNION ALL
       |  SELECT p.it + 1, t.r, t.c,
       |    CASE WHEN t.drain THEN t.v
       |         ELSE least(min(CASE WHEN d.self = 1 THEN p.f END),
       |                    greatest(t.v, min(CASE WHEN d.self = 0 THEN p.f END)))
       |    END AS f
       |  FROM fs p JOIN dd9 d ON true
       |  JOIN cells t ON t.r = p.r + d.dr AND t.c = p.c + d.dc
       |  WHERE p.it < 60
       |  GROUP BY p.it, t.r, t.c, t.v, t.drain)""".stripMargin
  }

  val gated: Seq[GatedQuery] = Seq(
    // W1: Horn gradient via distributed halo exchange (sampled pixels)
    GatedQuery("r8_gradient", (s, _) => {
      import s.implicits._
      val dem = TileOps.tileGrid(s, Synth.demRef, tileRes)(Synth.demValue)
      Stencil.hornGradient(dem, Synth.demRef, tileRes)
        .filter(($"row" * lit(Synth.demRef.ncols) + $"col") % 37 === 5)
        .select($"row".cast("long").as("row"), $"col".cast("long").as("col"),
          $"gx", $"gy")
        .orderBy($"row", $"col")
    },
    {
      val nc = Synth.demRef.ncols
      def v(rr: String, cc: String): String =
        s"((($rr) * 31 + ($cc) * 17) % 1000) / 4.0"
      def hole(rr: String, cc: String): String =
        s"(($rr) * $nc + ($cc)) % 97 = 13"
      val n = Seq( // 3x3 neighborhood in (dr, dc)
        ("tl", -1, -1), ("tp", -1, 0), ("tr", -1, 1),
        ("l", 0, -1), ("rt", 0, 1),
        ("bl", 1, -1), ("bt", 1, 0), ("br", 1, 1))
      val holes = (n.map { case (_, dr, dc) => hole(s"r + $dr", s"c + $dc") } :+
        hole("r", "c")).mkString(" OR ")
      val defs = n.map { case (nm, dr, dc) => s"${v(s"r + $dr", s"c + $dc")} AS $nm" }
        .mkString(",\n  ")
      s"""WITH g AS (SELECT (i // $nc) AS r, (i % $nc) AS c
         |  FROM range(${Synth.demRef.nrows.toLong * nc}) t(i)
         |  WHERE i % 37 = 5
         |    AND (i // $nc) BETWEEN 1 AND ${Synth.demRef.nrows - 2}
         |    AND (i % $nc) BETWEEN 1 AND ${nc - 2}
         |    AND NOT ($holes)),
         |nb AS (SELECT r, c,
         |  $defs FROM g)
         |SELECT r AS row, c AS col,
         |  ((tr + 2 * rt + br) - (tl + 2 * l + bl)) / (8 * 5.0) AS gx,
         |  ((tl + 2 * tp + tr) - (bl + 2 * bt + br)) / (8 * 5.0) AS gy
         |FROM nb ORDER BY row, col""".stripMargin
    }),

    // H1 (beyond-reference, in-domain hydrology): D8 flow direction over
    // the icelite-backed DEM — steepest positive drop, ESRI power-of-two
    // codes, smallest code on ties, 0 at pits. Hash-gated per cell: z is
    // dyadic and sqrt(2) is exact-rounded, so every drop double is
    // bit-identical cross-engine and comparisons can never diverge.
    GatedQuery("r24_flowdir", (s, _) => {
      import s.implicits._
      Flow.flowDir(demTiles(s), Synth.demRef, tileRes)
        .select($"row", $"col", $"dir".cast("long").as("dir"))
        .orderBy($"row", $"col")
    },
      // r24: per-cell D8 direction from the shared CTE block; LEFT JOIN
      // restores pit cells (no positive drop) as dir 0.
      s"""WITH $d8Ctes,
      |dirx AS (SELECT r, c, code FROM best WHERE rn = 1 AND dp > 0)
      |SELECT g.r AS row, g.c AS col, CAST(COALESCE(d.code, 0) AS BIGINT) AS dir
      |FROM g LEFT JOIN dirx d ON d.r = g.r AND d.c = g.c
      |WHERE g.v IS NOT NULL ORDER BY row, col""".stripMargin),

    // H2: D8 flow accumulation (cells draining through, incl. self) via
    // the tile-condensation pattern — local topological accumulate per
    // tile, a crossing-edge-only condensed solve (O(perimeter)), then a
    // seeded second pass. Oracle = WITH RECURSIVE downstream closure.
    GatedQuery("r25_flowacc", (s, _) => {
      import s.implicits._
      Flow.flowAcc(demTiles(s), Synth.demRef, tileRes)
        .orderBy($"row", $"col")
    },
      // r25: downstream closure of the D8 edge set — every (start, cell on
      // its path) pair, counted per cell (= upstream cells incl. self).
      // Terminates because z strictly decreases along every edge (DAG).
      s"""WITH RECURSIVE $d8WalkCtes
      |SELECT r AS row, c AS col, CAST(count(*) AS BIGINT) AS acc
      |FROM walk GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // H3: watershed delineation + downstream flow length — every cell's
    // basin outlet (terminal pit of its D8 path) and the path's step
    // counts, kept as exact (cardinal, diagonal) integers so the length
    // `cs*(ncard + ndiag*sqrt2)` never enters the hash. Same condensation
    // scale shape as r25. Oracle = terminal row of the recursive
    // downstream walk (the one cell on each path with no outgoing edge).
    GatedQuery("r26_watershed", (s, _) => {
      import s.implicits._
      Flow.downstream(demTiles(s), Synth.demRef, tileRes)
        .orderBy($"row", $"col")
    },
      // r26: the terminal row of each start's downstream walk — the unique
      // path cell with no outgoing D8 edge (the basin pit) + step counts.
      s"""WITH RECURSIVE $d8WalkCtes,
      |term AS (SELECT w.sr, w.sc, w.r, w.c, w.ncard, w.ndiag FROM walk w
      |  WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.r = w.r AND e.c = w.c))
      |SELECT CAST(sr AS BIGINT) AS row, CAST(sc AS BIGINT) AS col,
      |       CAST(r AS BIGINT) AS basin_r, CAST(c AS BIGINT) AS basin_c,
      |       CAST(ncard AS BIGINT) AS ncard, CAST(ndiag AS BIGINT) AS ndiag
      |FROM term ORDER BY row, col""".stripMargin),

    // H4: stream-network extraction — D8 edges whose source cell's
    // accumulation meets the channel-initiation threshold (support-area
    // rule). One equi-join of r25's accumulation with r24's directions.
    GatedQuery("r27_streams", (s, _) => {
      import s.implicits._
      Flow.streamNetwork(demTiles(s), Synth.demRef, tileRes, threshold = 25L)
        .orderBy($"row", $"col")
    },
      // r27: channel-initiation filter over the walk-derived accumulation,
      // joined back to the D8 edge set (threshold 25 support cells).
      s"""WITH RECURSIVE $d8WalkCtes,
      |acc AS (SELECT r, c, count(*) AS a FROM walk GROUP BY 1, 2)
      |SELECT CAST(e.r AS BIGINT) AS row, CAST(e.c AS BIGINT) AS col,
      |       CAST(e.r2 AS BIGINT) AS to_r, CAST(e.c2 AS BIGINT) AS to_c,
      |       CAST(a.a AS BIGINT) AS acc
      |FROM edges e JOIN acc a ON a.r = e.r AND a.c = e.c
      |WHERE a.a >= 25 ORDER BY row, col""".stripMargin),

    // H5: longest upstream drainage path (hydraulic-length analog) via a
    // max-plus condensed solve (mirror of r25's sum solve); weighted
    // comparator `ncard + ndiag*sqrt2` with ties to the larger cardinal
    // count, replicated verbatim in the oracle's window ORDER BY.
    GatedQuery("r28_flowlength", (s, _) => {
      import s.implicits._
      Flow.longestUpstream(demTiles(s), Synth.demRef, tileRes)
        .orderBy($"row", $"col")
    },
      // r28: longest upstream path per cell — max over walk rows ending at
      // the cell, weighted `ncard + ndiag*sqrt(2.0)` with ties to the larger
      // cardinal count (the engine's comparator, verbatim).
      s"""WITH RECURSIVE $d8WalkCtes,
      |up AS (SELECT r, c, ncard, ndiag,
      |  row_number() OVER (PARTITION BY r, c
      |    ORDER BY (ncard + ndiag * sqrt(2.0)) DESC, ncard DESC) AS rn
      |  FROM walk)
      |SELECT CAST(r AS BIGINT) AS row, CAST(c AS BIGINT) AS col,
      |       CAST(ncard AS BIGINT) AS ncard, CAST(ndiag AS BIGINT) AS ndiag
      |FROM up WHERE rn = 1 ORDER BY row, col""".stripMargin),

    // H6: depression filling (Priority-Flood) — the standard DEM
    // conditioning step before D8 routing. Fill values are max/min
    // SELECTIONS of input z values (no arithmetic), so the minimax
    // fixpoint is bit-exact cross-engine. Oracle = Jacobi relaxation of
    // the same fixpoint, run for a fixed 60 rounds (the fixture converges
    // in 36 — margin documented; check_oracle proves the slack).
    GatedQuery("r29_fill_sinks", (s, _) => {
      import s.implicits._
      Flow.fillSinks(demTiles(s), Synth.demRef, tileRes)
        .orderBy($"row", $"col")
    },
      // r29: Jacobi relaxation of the Priority-Flood minimax fixpoint —
      // see jacobiFillCtes (shared with r33 so the fill rule can never
      // desynchronize between the two oracles).
      s"""WITH RECURSIVE $jacobiFillCtes
      |SELECT CAST(r AS BIGINT) AS row, CAST(c AS BIGINT) AS col, f AS fill
      |FROM fs WHERE it = 60 ORDER BY row, col""".stripMargin),

    // W1b: focal terrain indices — TPI (Weiss 2001) and TRI (Riley 1999)
    // over the valid 8-neighborhood, one halo exchange. Hash-exact: the
    // dyadic fixture makes every square/sum exact (order-free), and
    // mean/sqrt of identical operands round identically cross-engine.
    GatedQuery("r30_terrain_indices", (s, _) => {
      import s.implicits._
      Stencil.terrainIndices(demTiles(s), Synth.demRef, tileRes)
        .orderBy($"row", $"col")
    },
      // r30: TPI/TRI per cell over the valid 8-neighborhood — sums of exact
      // dyadic squares are order-free; division and sqrt of identical
      // operands are identical correctly-rounded doubles in both engines.
      s"""WITH $demGridCte,
      |dd8(dr, dc) AS (VALUES (0,1),(1,1),(1,0),(1,-1),(0,-1),(-1,-1),(-1,0),(-1,1)),
      |nb AS (
      |  SELECT a.r, a.c, a.v, b.v AS vn FROM g a JOIN dd8 d ON true
      |  JOIN g b ON b.r = a.r + d.dr AND b.c = a.c + d.dc
      |  WHERE a.v IS NOT NULL AND b.v IS NOT NULL)
      |SELECT CAST(r AS BIGINT) AS row, CAST(c AS BIGINT) AS col,
      |       v - sum(vn) / count(*) AS tpi,
      |       sqrt(sum((v - vn) * (v - vn))) AS tri
      |FROM nb GROUP BY r, c, v ORDER BY row, col""".stripMargin),

    // R1 (beyond-reference rendering): marching-squares contour at a
    // level chosen OFF the fixture's dyadic value lattice (100.125 vs
    // quarter-valued z), so every edge interpolation is a division of
    // exact doubles — bit-identical cross-engine, no quantization. One
    // halo exchange; blocks owned by their TL corner's tile (no seams).
    GatedQuery("r31_contour", (s, _) => {
      import s.implicits._
      Contour.segments(demTiles(s), Synth.demRef, tileRes, level = 100.125)
        .orderBy($"x1", $"y1", $"x2", $"y2")
    },
      // r31: marching squares replicated in SQL — the textbook case table
      // as a VALUES relation (edge ids 0=top 1=right 2=bottom 3=left; the
      // saddle rows key on the block-center mean), crossings as divisions
      // of the same exact operands the engine uses, canonical endpoint
      // order replicated verbatim.
      s"""WITH $demGridCte,
      |blk AS (
      |  SELECT a.r, a.c, a.v AS ztl, b.v AS ztr, d.v AS zbl, e.v AS zbr
      |  FROM g a JOIN g b ON b.r = a.r AND b.c = a.c + 1
      |  JOIN g d ON d.r = a.r + 1 AND d.c = a.c
      |  JOIN g e ON e.r = a.r + 1 AND e.c = a.c + 1
      |  WHERE a.v IS NOT NULL AND b.v IS NOT NULL
      |    AND d.v IS NOT NULL AND e.v IS NOT NULL),
      |cs AS (
      |  SELECT r, c, ztl, ztr, zbl, zbr,
      |    (CASE WHEN ztl >= 100.125e0 THEN 8 ELSE 0 END) +
      |    (CASE WHEN ztr >= 100.125e0 THEN 4 ELSE 0 END) +
      |    (CASE WHEN zbr >= 100.125e0 THEN 2 ELSE 0 END) +
      |    (CASE WHEN zbl >= 100.125e0 THEN 1 ELSE 0 END) AS code,
      |    (ztl + ztr + zbr + zbl) / 4.0e0 AS ctr
      |  FROM blk),
      |pts AS (
      |  SELECT r, c, code, ctr,
      |    c + (100.125e0 - ztl) / (ztr - ztl) AS topx,
      |    r + (100.125e0 - ztr) / (zbr - ztr) AS righty,
      |    c + (100.125e0 - zbl) / (zbr - zbl) AS botx,
      |    r + (100.125e0 - ztl) / (zbl - ztl) AS lefty
      |  FROM cs WHERE code NOT IN (0, 15)),
      |segdef(code, ctrin, ea, eb) AS (VALUES
      |  (1, NULL, 3, 2), (2, NULL, 2, 1), (3, NULL, 3, 1), (4, NULL, 0, 1),
      |  (6, NULL, 0, 2), (7, NULL, 3, 0), (8, NULL, 3, 0), (9, NULL, 0, 2),
      |  (11, NULL, 0, 1), (12, NULL, 3, 1), (13, NULL, 2, 1), (14, NULL, 3, 2),
      |  (5, true, 3, 0), (5, true, 2, 1), (5, false, 3, 2), (5, false, 0, 1),
      |  (10, true, 0, 1), (10, true, 3, 2), (10, false, 3, 0), (10, false, 2, 1)),
      |segs AS (
      |  SELECT p.*, s.ea, s.eb FROM pts p JOIN segdef s
      |  ON s.code = p.code
      |  AND (s.ctrin IS NULL OR s.ctrin = (p.ctr >= 100.125e0))),
      |ends AS (
      |  SELECT
      |    CASE ea WHEN 0 THEN topx WHEN 1 THEN c + 1.0e0
      |            WHEN 2 THEN botx ELSE c * 1.0e0 END AS ax,
      |    CASE ea WHEN 0 THEN r * 1.0e0 WHEN 1 THEN righty
      |            WHEN 2 THEN r + 1.0e0 ELSE lefty END AS ay,
      |    CASE eb WHEN 0 THEN topx WHEN 1 THEN c + 1.0e0
      |            WHEN 2 THEN botx ELSE c * 1.0e0 END AS bx,
      |    CASE eb WHEN 0 THEN r * 1.0e0 WHEN 1 THEN righty
      |            WHEN 2 THEN r + 1.0e0 ELSE lefty END AS b_y
      |  FROM segs)
      |SELECT
      |  CASE WHEN ax < bx OR (ax = bx AND ay <= b_y) THEN ax ELSE bx END AS x1,
      |  CASE WHEN ax < bx OR (ax = bx AND ay <= b_y) THEN ay ELSE b_y END AS y1,
      |  CASE WHEN ax < bx OR (ax = bx AND ay <= b_y) THEN bx ELSE ax END AS x2,
      |  CASE WHEN ax < bx OR (ax = bx AND ay <= b_y) THEN b_y ELSE ay END AS y2
      |FROM ends ORDER BY x1, y1, x2, y2""".stripMargin),

    // H8: zonal statistics — per-watershed aggregates of the DEM
    // (count / min / max / sum; the quarter-valued fixture keeps the sum
    // exact, so no quantization). Pure relational composition: the r26
    // basin labels equi-join the cell values and aggregate — the classic
    // "zonal stats" operator expressed as the engine's native
    // join+groupBy; at scale it is one shuffle on the basin key with
    // partial aggregation map-side.
    GatedQuery("r32_zonal_stats", (s, _) => {
      import s.implicits._
      val dem = demTiles(s)
      val basins = Flow.downstream(dem, Synth.demRef, tileRes)
        .select($"row", $"col", $"basin_r", $"basin_c")
      val cells = TileOps.cells(dem).where($"v".isNotNull)
        .select($"row".cast("long").as("row"), $"col".cast("long").as("col"), $"v")
      basins.join(cells, Seq("row", "col"))
        .groupBy($"basin_r", $"basin_c")
        .agg(count(lit(1)).as("n_cells"), min($"v").as("min_z"),
          max($"v").as("max_z"), sum($"v").as("sum_z"))
        .orderBy($"basin_r", $"basin_c")
    },
      // r32: zonal statistics over the r26 basins — the walk terminal row
      // labels each cell, joined back to the grid values and aggregated.
      // Sums of quarter-valued z are exact, so no quantization.
      s"""WITH RECURSIVE $d8WalkCtes,
      |term AS (SELECT w.sr, w.sc, w.r AS br, w.c AS bc FROM walk w
      |  WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.r = w.r AND e.c = w.c))
      |SELECT CAST(t.br AS BIGINT) AS basin_r, CAST(t.bc AS BIGINT) AS basin_c,
      |       CAST(count(*) AS BIGINT) AS n_cells,
      |       min(g.v) AS min_z, max(g.v) AS max_z, sum(g.v) AS sum_z
      |FROM term t JOIN g ON g.r = t.sr AND g.c = t.sc
      |WHERE g.v IS NOT NULL
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // H9: hydrologically-conditioned flow direction — D8 over the
    // Priority-Flood-FILLED surface (the real-world sequence: condition,
    // then route; filled lake interiors become pits/flats with dir 0).
    // Exercises fillSinksTiles -> flowDir operator chaining; the oracle
    // composes the r29 Jacobi fill CTE with the r24 direction rule over
    // the filled values (fill values are selections of dyadic z, so the
    // drop doubles stay bit-identical cross-engine).
    GatedQuery("r33_conditioned_flowdir", (s, _) => {
      import s.implicits._
      val filled = Flow.fillSinksTiles(demTiles(s), Synth.demRef, tileRes)
      Flow.flowDir(filled, Synth.demRef, tileRes)
        .select($"row", $"col", $"dir".cast("long").as("dir"))
        .orderBy($"row", $"col")
    },
      // r33: D8 direction rule over the Jacobi-FILLED surface (fill CTE
      // shared with r29 verbatim; drop expressions mirror r24's with f in
      // place of v — fill values are selections of dyadic z, so every
      // compared double stays bit-identical cross-engine).
      s"""WITH RECURSIVE $jacobiFillCtes,
      |fg AS MATERIALIZED (SELECT r, c, f FROM fs WHERE it = 60),
      |ddx(code, dr, dc) AS (VALUES (1,0,1),(2,1,1),(4,1,0),(8,1,-1),
      |                             (16,0,-1),(32,-1,-1),(64,-1,0),(128,-1,1)),
      |candx AS (
      |  SELECT a.r, a.c, d.code,
      |         (a.f - b.f) / (CASE WHEN d.dr != 0 AND d.dc != 0
      |                             THEN 5.0 * sqrt(2.0) ELSE 5.0 END) AS dp
      |  FROM fg a JOIN ddx d ON true
      |  JOIN fg b ON b.r = a.r + d.dr AND b.c = a.c + d.dc),
      |bestx AS (
      |  SELECT r, c, code, dp,
      |         row_number() OVER (PARTITION BY r, c ORDER BY dp DESC, code ASC) AS rn
      |  FROM candx),
      |dirx AS (SELECT r, c, code FROM bestx WHERE rn = 1 AND dp > 0)
      |SELECT fg.r AS row, fg.c AS col, CAST(COALESCE(d.code, 0) AS BIGINT) AS dir
      |FROM fg LEFT JOIN dirx d ON d.r = fg.r AND d.c = fg.c
      |ORDER BY row, col""".stripMargin),

    // H10: HAND — height above nearest drainage (Rennó 2008). Stream set
    // = r27's acc>=25 rule; per cell, the FIRST stream cell on its D8
    // path, exact (ncard, ndiag) step counts, and hand = z − z_stream
    // (difference of dyadic quarters — exact, no quantization). Cells
    // draining to a pit before any stream are omitted (HAND undefined).
    GatedQuery("r37_hand", (s, _) => {
      import s.implicits._
      Raster(demTiles(s), Synth.demRef, tileRes).hand(threshold = 25L)
        .select($"row", $"col", $"stream_r", $"stream_c",
          $"ncard", $"ndiag", $"hand")
        .orderBy($"row", $"col")
    },
      // r37: HAND — the walk closure joined to the r27 stream set; the
      // first stream cell on a path is the hit with the minimum step count
      // (steps strictly increase along the walk, so the minimum is unique).
      // hand = z(start) − z(hit), both quarters — exact cross-engine.
      s"""WITH RECURSIVE $d8WalkCtes,
      |acc AS (SELECT r, c, count(*) AS a FROM walk GROUP BY 1, 2),
      |stream AS (SELECT r, c FROM acc WHERE a >= 25),
      |hits AS (
      |  SELECT w.sr, w.sc, w.r, w.c, w.ncard, w.ndiag,
      |    row_number() OVER (PARTITION BY w.sr, w.sc
      |      ORDER BY w.ncard + w.ndiag ASC) AS rn
      |  FROM walk w JOIN stream s ON s.r = w.r AND s.c = w.c)
      |SELECT CAST(h.sr AS BIGINT) AS row, CAST(h.sc AS BIGINT) AS col,
      |  CAST(h.r AS BIGINT) AS stream_r, CAST(h.c AS BIGINT) AS stream_c,
      |  CAST(h.ncard AS BIGINT) AS ncard, CAST(h.ndiag AS BIGINT) AS ndiag,
      |  g1.v - g2.v AS hand
      |FROM hits h JOIN g g1 ON g1.r = h.sr AND g1.c = h.sc
      |            JOIN g g2 ON g2.r = h.r AND g2.c = h.c
      |WHERE h.rn = 1
      |ORDER BY row, col""".stripMargin),

    // H11: Strahler stream order at threshold 4 (the richest network the
    // fixture yields — orders reach 3 with 2,359 order-2 cells). Pointer-
    // doubling chain condensation + junction-forest solve; oracle is the
    // Jacobi order relaxation (55 rounds > the fixture's 49-cell max
    // stream path).
    GatedQuery("r38_strahler", (s, _) => {
      import s.implicits._
      Raster(demTiles(s), Synth.demRef, tileRes).strahler(threshold = 4L)
        .orderBy($"row", $"col")
    },
      // r38: Strahler order — Jacobi relaxation over the stream forest:
      // ord_{k+1}(c) = rule over parents' ord_k (max, +1 when the top two
      // tie), sources stay 1; correct once k exceeds the longest stream
      // path (49 cells at threshold 4), run to 55. Contributions carry a
      // self marker so source cells survive each round (the r29 pattern);
      // the tie test reads the descending parent-order list.
      s"""WITH RECURSIVE $d8WalkCtes,
      |acc AS (SELECT r, c, count(*) AS a FROM walk GROUP BY 1, 2),
      |stream AS MATERIALIZED (SELECT r, c FROM acc WHERE a >= 4),
      |sedges AS MATERIALIZED (
      |  SELECT e.r, e.c, e.r2, e.c2 FROM edges e
      |  JOIN stream s ON s.r = e.r AND s.c = e.c),
      |cmap AS MATERIALIZED (
      |  SELECT r, c, r AS tr, c AS tc, 1 AS self FROM stream
      |  UNION ALL
      |  SELECT r, c, r2 AS tr, c2 AS tc, 0 AS self FROM sedges),
      |sord AS (
      |  SELECT 0 AS it, r, c, 1 AS o FROM stream
      |  UNION ALL
      |  SELECT p.it + 1, m.tr AS r, m.tc AS c,
      |    CASE WHEN count(CASE WHEN m.self = 0 THEN 1 END) = 0 THEN 1
      |         WHEN count(CASE WHEN m.self = 0 THEN 1 END) >= 2
      |              AND (list(p.o ORDER BY p.o DESC) FILTER (m.self = 0))[1]
      |                = (list(p.o ORDER BY p.o DESC) FILTER (m.self = 0))[2]
      |         THEN (list(p.o ORDER BY p.o DESC) FILTER (m.self = 0))[1] + 1
      |         ELSE (list(p.o ORDER BY p.o DESC) FILTER (m.self = 0))[1] END AS o
      |  FROM sord p JOIN cmap m ON m.r = p.r AND m.c = p.c
      |  WHERE p.it < 55
      |  GROUP BY p.it, m.tr, m.tc)
      |SELECT CAST(r AS BIGINT) AS row, CAST(c AS BIGINT) AS col,
      |  CAST(o AS BIGINT) AS strahler
      |FROM sord WHERE it = 55 ORDER BY row, col""".stripMargin),

    // Zevenbergen-Thorne curvature (general/profile/plan) over one halo
    // exchange — pure rational arithmetic so the SQL oracle is bit-exact
    // (sampled pixels, like r8)
    GatedQuery("r39_curvature", (s, _) => {
      import s.implicits._
      Stencil.curvature(demTiles(s), Synth.demRef, tileRes)
        .filter(($"row" * lit(Synth.demRef.ncols) + $"col") % 29 === 3)
        .orderBy($"row", $"col")
    },
    // r39: the ZT coefficients and curvatures spelled in the kernel's
    // exact textual order — every op is a correctly-rounded IEEE double
    // op on identical operands, so the hash is bit-exact
    {
      val nc = Synth.demRef.ncols
      def v(rr: String, cc: String): String =
        s"((($rr) * 31 + ($cc) * 17) % 1000) / 4.0"
      def hole(rr: String, cc: String): String =
        s"(($rr) * $nc + ($cc)) % 97 = 13"
      val n = Seq(
        ("tl", -1, -1), ("tp", -1, 0), ("tr", -1, 1),
        ("l", 0, -1), ("z", 0, 0), ("rt", 0, 1),
        ("bl", 1, -1), ("bt", 1, 0), ("br", 1, 1))
      val holes = n.map { case (_, dr, dc) => hole(s"r + $dr", s"c + $dc") }
        .mkString(" OR ")
      val defs = n.map { case (nm, dr, dc) => s"${v(s"r + $dr", s"c + $dc")} AS $nm" }
        .mkString(",\n  ")
      s"""WITH g AS (SELECT (i // $nc) AS r, (i % $nc) AS c
         |  FROM range(${Synth.demRef.nrows.toLong * nc}) t(i)
         |  WHERE i % 29 = 3
         |    AND (i // $nc) BETWEEN 1 AND ${Synth.demRef.nrows - 2}
         |    AND (i % $nc) BETWEEN 1 AND ${nc - 2}
         |    AND NOT ($holes)),
         |nb AS (SELECT r, c,
         |  $defs FROM g),
         |co AS (SELECT r, c,
         |  ((l + rt) / 2 - z) / (5.0 * 5.0) AS dd,
         |  ((tp + bt) / 2 - z) / (5.0 * 5.0) AS ee,
         |  (-tl + tr + bl - br) / (4 * 5.0 * 5.0) AS ff,
         |  (-l + rt) / (2 * 5.0) AS gg,
         |  (tp - bt) / (2 * 5.0) AS hh
         |  FROM nb)
         |SELECT r AS row, c AS col,
         |  -2 * (dd + ee) AS curv,
         |  CASE WHEN gg * gg + hh * hh = 0 THEN 0.0
         |    ELSE 2 * (dd * gg * gg + ee * hh * hh + ff * gg * hh) / (gg * gg + hh * hh) END AS prof,
         |  CASE WHEN gg * gg + hh * hh = 0 THEN 0.0
         |    ELSE -2 * (dd * hh * hh + ee * gg * gg - ff * gg * hh) / (gg * gg + hh * hh) END AS plan
         |FROM co ORDER BY row, col""".stripMargin
    }),

    // Slope/aspect 8-sector classification over the Horn gradient —
    // fully declarative Column expressions (one codegen span); tan^2
    // slope + integer octant keep the oracle transcendental-free
    GatedQuery("r40_aspect", (s, _) => {
      import s.implicits._
      Stencil.aspectClass(demTiles(s), Synth.demRef, tileRes)
        .filter(($"row" * lit(Synth.demRef.ncols) + $"col") % 29 === 3)
        .select($"row".cast("long").as("row"), $"col".cast("long").as("col"),
          $"tan2_slope", $"octant".cast("long").as("octant"), $"compass")
        .orderBy($"row", $"col")
    },
    // r40: Horn gradient -> tan^2 slope + 8-sector aspect; sector
    // boundaries via the shared tan(pi/8) double literal, downslope
    // direction = -gradient; transcendental-free like r8/r39
    {
      val nc = Synth.demRef.ncols
      def v(rr: String, cc: String): String =
        s"((($rr) * 31 + ($cc) * 17) % 1000) / 4.0"
      def hole(rr: String, cc: String): String =
        s"(($rr) * $nc + ($cc)) % 97 = 13"
      val n = Seq(
        ("tl", -1, -1), ("tp", -1, 0), ("tr", -1, 1),
        ("l", 0, -1), ("rt", 0, 1),
        ("bl", 1, -1), ("bt", 1, 0), ("br", 1, 1))
      val holes = (n.map { case (_, dr, dc) => hole(s"r + $dr", s"c + $dc") } :+
        hole("r", "c")).mkString(" OR ")
      val defs = n.map { case (nm, dr, dc) => s"${v(s"r + $dr", s"c + $dc")} AS $nm" }
        .mkString(",\n  ")
      s"""WITH g AS (SELECT (i // $nc) AS r, (i % $nc) AS c
         |  FROM range(${Synth.demRef.nrows.toLong * nc}) t(i)
         |  WHERE i % 29 = 3
         |    AND (i // $nc) BETWEEN 1 AND ${Synth.demRef.nrows - 2}
         |    AND (i % $nc) BETWEEN 1 AND ${nc - 2}
         |    AND NOT ($holes)),
         |nb AS (SELECT r, c,
         |  $defs FROM g),
         |gr AS (SELECT r, c,
         |  ((tr + 2 * rt + br) - (tl + 2 * l + bl)) / (8 * 5.0) AS gx,
         |  ((tl + 2 * tp + tr) - (bl + 2 * bt + br)) / (8 * 5.0) AS gy
         |  FROM nb),
         |oc AS (SELECT r, c, gx, gy,
         |  CASE WHEN gx = 0 AND gy = 0 THEN -1
         |    WHEN abs(-gy) <= abs(-gx) * 0.4142135623730951 THEN
         |      CASE WHEN -gx > 0 THEN 2 ELSE 6 END
         |    WHEN abs(-gx) <= abs(-gy) * 0.4142135623730951 THEN
         |      CASE WHEN -gy > 0 THEN 0 ELSE 4 END
         |    ELSE CASE WHEN -gy > 0 THEN CASE WHEN -gx > 0 THEN 1 ELSE 7 END
         |      ELSE CASE WHEN -gx > 0 THEN 3 ELSE 5 END END
         |  END AS octant
         |  FROM gr)
         |SELECT r AS row, c AS col, gx * gx + gy * gy AS tan2_slope,
         |  CAST(octant AS BIGINT) AS octant,
         |  CASE octant WHEN -1 THEN 'FLAT' WHEN 0 THEN 'N' WHEN 1 THEN 'NE'
         |    WHEN 2 THEN 'E' WHEN 3 THEN 'SE' WHEN 4 THEN 'S' WHEN 5 THEN 'SW'
         |    WHEN 6 THEN 'W' ELSE 'NW' END AS compass
         |FROM oc ORDER BY row, col""".stripMargin
    }),

    // Bounded-radius viewshed: R3 line-of-sight with integer-DDA
    // sampling and the cross-multiplied slope test — all rational
    // arithmetic + sqrt, mirrored exactly in the SQL oracle. One
    // descriptor-keyed shuffle of each observer's window; kernel is
    // executor-side per observer.
    GatedQuery("r41_viewshed", (s, _) => {
      import s.implicits._
      graft.operators.Viewshed(demTiles(s), Synth.demRef, tileRes,
          Seq(graft.operators.Viewshed.Observer(0, 60, 40),
            graft.operators.Viewshed.Observer(1, 150, 100),
            graft.operators.Viewshed.Observer(2, 30, 120)),
          radius = 24, eyeH = 10.0)
        .orderBy($"oid", $"row", $"col")
    },
    // r41: the full R3 viewshed replicated — same DDA rounding, same
    // cross-multiplied slope rule, NaN-transparent intermediates
    {
      val nc = Synth.demRef.ncols
      val nr = Synth.demRef.nrows
      def v(rr: String, cc: String): String =
        s"((($rr) * 31 + ($cc) * 17) % 1000) / 4.0"
      def hole(rr: String, cc: String): String =
        s"(($rr) * $nc + ($cc)) % 97 = 13"
      s"""WITH obs AS (SELECT * FROM (VALUES (0, 60, 40), (1, 150, 100), (2, 30, 120)) o(oid, orr, occ)),
         |tgt AS (
         |  SELECT o.oid, o.orr, o.occ, o.orr + dr.d AS r, o.occ + dc.d AS c,
         |    dr.d AS dr, dc.d AS dc,
         |    greatest(abs(dr.d), abs(dc.d)) AS n,
         |    sqrt(CAST(dr.d * dr.d + dc.d * dc.d AS DOUBLE)) AS dt
         |  FROM obs o, range(-24, 25) dr(d), range(-24, 25) dc(d)
         |  WHERE (dr.d <> 0 OR dc.d <> 0) AND dr.d * dr.d + dc.d * dc.d <= 576
         |    AND o.orr + dr.d BETWEEN 0 AND ${nr - 1}
         |    AND o.occ + dc.d BETWEEN 0 AND ${nc - 1}
         |    AND NOT ${hole("o.orr + dr.d", "o.occ + dc.d")}),
         |stp AS (
         |  SELECT t.*,
         |    CAST(floor(t.orr + (k.k * t.dr) / CAST(t.n AS DOUBLE) + 0.5) AS INT) AS pr,
         |    CAST(floor(t.occ + (k.k * t.dc) / CAST(t.n AS DOUBLE) + 0.5) AS INT) AS pc
         |  FROM tgt t JOIN range(1, 25) k(k) ON k.k < t.n),
         |blk AS (
         |  SELECT oid, r, c, bool_or(
         |      (${v("pr", "pc")} - (${v("orr", "occ")} + 10.0)) * dt >=
         |      (${v("r", "c")} - (${v("orr", "occ")} + 10.0)) *
         |        sqrt(CAST((pr - orr) * (pr - orr) + (pc - occ) * (pc - occ) AS DOUBLE)))
         |    FILTER (WHERE NOT ((pr = orr AND pc = occ) OR (pr = r AND pc = c))
         |      AND NOT ${hole("pr", "pc")}) AS blocked
         |  FROM stp GROUP BY 1, 2, 3)
         |SELECT CAST(t.oid AS BIGINT) AS oid, CAST(t.r AS BIGINT) AS row, CAST(t.c AS BIGINT) AS col,
         |  coalesce(b.blocked, FALSE) = FALSE AS visible
         |FROM tgt t LEFT JOIN blk b ON t.oid = b.oid AND t.r = b.r AND t.c = b.c
         |ORDER BY oid, row, col""".stripMargin
    }),

    // Weighted cost-distance accumulation (least-cost path from the
    // v >= 240 seed set, midpoint rule scaled x20, rational diagonal 14):
    // iterated tile-local Dijkstra against 1-px halo estimates — the
    // minisum sibling of r29's Priority-Flood. All arithmetic is dyadic
    // (quarter-unit costs x 10/14), so the Jacobi SQL oracle hash-matches
    // bit-for-bit.
    GatedQuery("r45_cost_distance", (s, _) => {
      import s.implicits._
      graft.operators.CostDistance.accumulate(demTiles(s), Synth.demRef,
          tileRes, isSource = _ >= 240.0)
        .orderBy($"row", $"col")
    },
    // r45: Jacobi relaxation of the cost-distance fixpoint (bounded
    // iteration count, same discipline as r29's fill oracle) — per-edge
    // weights are the identical dyadic doubles the engine sums, so min()
    // over exact values hash-matches.
    {
      val nc = Synth.demRef.ncols
      val n = Synth.demRef.nrows.toLong * nc
      val iters = 120
      s"""WITH RECURSIVE gg AS (SELECT (i // $nc) AS r, (i % $nc) AS c FROM range($n) t(i)),
         |vals AS MATERIALIZED (SELECT r, c, ((r * 31 + c * 17) % 1000) / 4.0 AS q FROM gg
         |  WHERE NOT ((r * $nc + c) % 97 = 13)),
         |dd9(dr, dc, wgt) AS (VALUES (0,0,0),(0,1,10),(1,1,14),(1,0,10),(1,-1,14),
         |                           (0,-1,10),(-1,-1,14),(-1,0,10),(-1,1,14)),
         |cd AS (
         |  SELECT 0 AS it, r, c, q, CASE WHEN q >= 240.0 THEN 0.0 ELSE 1e30 END AS d
         |  FROM vals
         |  UNION ALL
         |  SELECT p.it + 1, t.r, t.c, t.q,
         |    CASE WHEN t.q >= 240.0 THEN 0.0
         |         ELSE least(min(CASE WHEN d.wgt = 0 THEN p.d END),
         |                    min(CASE WHEN d.wgt > 0 THEN p.d + (p.q + t.q) * d.wgt END))
         |    END AS d
         |  FROM cd p JOIN dd9 d ON true
         |  JOIN vals t ON t.r = p.r + d.dr AND t.c = p.c + d.dc
         |  WHERE p.it < $iters
         |  GROUP BY p.it, t.r, t.c, t.q)
         |SELECT CAST(r AS BIGINT) AS row, CAST(c AS BIGINT) AS col, d AS dist
         |FROM cd WHERE it = $iters AND d < 1e30 ORDER BY row, col""".stripMargin
    }),

    // Tabulate-area overlay (the classic zonal cross-tab): per
    // (basin, elevation-class) cell counts — ONE equi-join of the r26
    // watershed labels with the r13 classification plus one partial/final
    // hash agg; overlay analysis costs two gated operators and a join,
    // never a new kernel. NULL class = valid cells below the first break
    // (the rankshow rule r13 gates).
    GatedQuery("r51_tabulate", (s, _) => {
      import s.implicits._
      val basins = Flow.downstream(demTiles(s), Synth.demRef, tileRes)
        .select($"row", $"col", $"basin_r", $"basin_c")
      val classed = TileOps.cells(
          TileFns.classify(demTiles(s), Array(50.0, 100.0, 150.0, 200.0)))
        .select($"row", $"col", $"v".as("class"))
      basins.join(classed, Seq("row", "col"))
        .groupBy($"basin_r", $"basin_c", $"class")
        .agg(count(lit(1)).as("n"))
        .orderBy($"basin_r", $"basin_c", $"class")
    },
      // r51: the walk-terminal basin label joined to the class rule
      s"""WITH RECURSIVE $d8WalkCtes,
      |term AS (SELECT w.sr, w.sc, w.r AS br, w.c AS bc FROM walk w
      |  WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.r = w.r AND e.c = w.c)),
      |cls AS (SELECT r, c,
      |  CASE WHEN v IS NULL OR v < 50 THEN NULL
      |       WHEN v < 100 THEN 1.0 WHEN v < 150 THEN 2.0
      |       WHEN v < 200 THEN 3.0 ELSE 4.0 END AS class
      |  FROM g)
      |SELECT CAST(t.br AS BIGINT) AS basin_r, CAST(t.bc AS BIGINT) AS basin_c,
      |       cl.class AS class, CAST(count(*) AS BIGINT) AS n
      |FROM term t JOIN cls cl ON cl.r = t.sr AND cl.c = t.sc
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // Topographic wetness (TWI argument) + stream power (SPI): the
    // classic hydrology composite of specific catchment area
    // (flowAcc * cellsize, integer-exact) against the Horn slope
    // magnitude. ln() is deliberately NOT applied — every emitted value
    // is a chain of single correctly-rounded IEEE ops (multiply, divide,
    // sqrt) on operands already proven bit-identical cross-engine by the
    // r25 and r8 gates, so the composite hash-matches where a libm log
    // would diverge in the last ulp (callers apply ln downstream; it is
    // monotone, so ranking/thresholding on twi_arg is equivalent).
    // Scale shape: one row/col equi-join of two gated operators
    // (r25 tile condensation x r8 halo stencil) — overlay composition,
    // no new kernel, no extra shuffle beyond the join.
    GatedQuery("r53_twi", (s, _) => {
      import s.implicits._
      Raster(demTiles(s), Synth.demRef, tileRes).wetness
        .filter(($"row" * lit(Synth.demRef.ncols) + $"col") % 5 === 1)
        .orderBy($"row", $"col")
    },
    // r53: the recursive D8 walk (acc) joined to the closed-form Horn
    // gradient (r8's CTE shape), composed with the exact op order of the
    // engine: sca = acc*cs, slope = sqrt(gx*gx + gy*gy), spi = sca*slope,
    // twi_arg = sca/slope — each a single correctly-rounded IEEE op
    {
      val nc = Synth.demRef.ncols
      def v(rr: String, cc: String): String =
        s"((($rr) * 31 + ($cc) * 17) % 1000) / 4.0"
      def hole(rr: String, cc: String): String =
        s"(($rr) * $nc + ($cc)) % 97 = 13"
      val nbr = Seq(
        ("tl", -1, -1), ("tp", -1, 0), ("tr", -1, 1),
        ("l", 0, -1), ("rt", 0, 1),
        ("bl", 1, -1), ("bt", 1, 0), ("br", 1, 1))
      val holes = (nbr.map { case (_, dr, dc) => hole(s"gg.r + $dr", s"gg.c + $dc") } :+
        hole("gg.r", "gg.c")).mkString(" OR ")
      val defs = nbr.map { case (nm, dr, dc) => s"${v(s"gg.r + $dr", s"gg.c + $dc")} AS $nm" }
        .mkString(",\n  ")
      s"""WITH RECURSIVE $d8WalkCtes,
         |acc AS (SELECT r, c, CAST(count(*) AS DOUBLE) AS acc
         |  FROM walk GROUP BY 1, 2),
         |intr AS (SELECT gg.r, gg.c, $defs
         |  FROM g gg
         |  WHERE gg.r BETWEEN 1 AND ${Synth.demRef.nrows - 2}
         |    AND gg.c BETWEEN 1 AND ${nc - 2}
         |    AND NOT ($holes)),
         |grad AS (SELECT r, c,
         |  ((tr + 2 * rt + br) - (tl + 2 * l + bl)) / (8 * 5.0) AS gx,
         |  ((tl + 2 * tp + tr) - (bl + 2 * bt + br)) / (8 * 5.0) AS gy
         |  FROM intr),
         |tw AS (SELECT a.r, a.c,
         |  a.acc * 5.0 AS sca,
         |  sqrt(gd.gx * gd.gx + gd.gy * gd.gy) AS slope
         |  FROM acc a JOIN grad gd ON gd.r = a.r AND gd.c = a.c)
         |SELECT CAST(r AS BIGINT) AS row, CAST(c AS BIGINT) AS col,
         |  sca, slope, sca * slope AS spi,
         |  CASE WHEN slope <> 0 THEN sca / slope END AS twi_arg
         |FROM tw WHERE (r * $nc + c) % 5 = 1 ORDER BY row, col""".stripMargin
    }),

    // r62: MULTI-SCALE topographic position index -> Weiss two-scale
    // landform classes, the flagship consumer of the r61 SAT: ONE
    // prefix-sum pass serves box means at BOTH radii (4 and 16) as four
    // lookups each — the r43-style separable focal pass would re-scan
    // the window per radius. All comparisons are scaled-integer exact:
    // tpi*n = v*box_n - box_sum, classified against threshold*box_n, so
    // no float mean ever forms. Probes are generated distributively
    // (4 corner rows per cell), joined home on the owning tile id.
    GatedQuery("r62_tpi_landform", (s, _) => Owned { own =>
      import s.implicits._
      val ref = GridRef(ncols = 384, nrows = 256, xll = 0, yll = 0,
        cellsize = 1, nodata = -9999)
      val tiles = TileOps.tileGrid(s, ref, tileRes)((r, c) =>
        ((r * 7 + c * 3) % 100).toDouble)
      val sat = own.reuse(graft.operators.Sat.satTiles(tiles))
      val cells = TileOps.cells(tiles)
        .select($"row".cast("int").as("qr"), $"col".cast("int").as("qc"),
          $"v".cast("long").as("v"))
      // ONE probe pass + ONE SAT join serve BOTH radii (boxSumAtRadii),
      // pivoted to per-radius columns with conditional aggregates — the
      // per-radius boxSumAt calls ran the whole probe pipeline twice and
      // needed two joins back onto the cells
      val boxes = graft.operators.Sat.boxSumAtRadii(sat, ref, tileRes,
          cells, Seq(4, 16))
        .groupBy($"qr", $"qc")
        .agg(max(when($"k" === 4, $"box_n")).as("n_s"),
          max(when($"k" === 4, $"box_sum")).cast("long").as("bs_s"),
          max(when($"k" === 16, $"box_n")).as("n_l"),
          max(when($"k" === 16, $"box_sum")).cast("long").as("bs_l"))
      cells
        .join(boxes, Seq("qr", "qc"))
        .withColumn("tpi_s", $"v" * $"n_s" - $"bs_s")
        .withColumn("tpi_l", $"v" * $"n_l" - $"bs_l")
        .withColumn("class_s",
          when($"tpi_s" > lit(5) * $"n_s", 1L)
            .when($"tpi_s" < lit(-5) * $"n_s", -1L).otherwise(0L))
        .withColumn("class_l",
          when($"tpi_l" > lit(5) * $"n_l", 1L)
            .when($"tpi_l" < lit(-5) * $"n_l", -1L).otherwise(0L))
        .groupBy($"class_s", $"class_l")
        .agg(count(lit(1)).as("n_cells"),
          sum($"tpi_s").as("sum_tpi_s"), sum($"tpi_l").as("sum_tpi_l"))
        .orderBy($"class_s", $"class_l")
        .localCheckpoint(true)
    },
      // r62: SAT replayed in SQL (two window cumsums), box sums via the
      // same signed 4-corner formula as equi self-joins with zero-padding
      // (COALESCE of out-of-range lookups), identical scaled-integer
      // classification. sat is AS MATERIALIZED — referenced 10 times.
      """WITH cells AS MATERIALIZED (
        |  SELECT r.r AS r, c.c AS c,
        |    CAST((r.r * 7 + c.c * 3) % 100 AS BIGINT) AS v
        |  FROM range(256) r(r), range(384) c(c)),
        |cc AS MATERIALIZED (SELECT r, c, v,
        |  sum(v) OVER (PARTITION BY r ORDER BY c) AS cv FROM cells),
        |sat AS MATERIALIZED (SELECT r, c, v,
        |  sum(cv) OVER (PARTITION BY c ORDER BY r) AS s FROM cc),
        |b4 AS (
        |  SELECT t.r, t.c, t.v,
        |    (LEAST(t.r + 4, 255) - GREATEST(t.r - 4, 0) + 1) *
        |    (LEAST(t.c + 4, 383) - GREATEST(t.c - 4, 0) + 1) AS n,
        |    coalesce(s22.s, 0) - coalesce(s12.s, 0)
        |      - coalesce(s21.s, 0) + coalesce(s11.s, 0) AS bs
        |  FROM sat t
        |  LEFT JOIN sat s22 ON s22.r = LEAST(t.r + 4, 255)
        |    AND s22.c = LEAST(t.c + 4, 383)
        |  LEFT JOIN sat s12 ON s12.r = GREATEST(t.r - 4, 0) - 1
        |    AND s12.c = LEAST(t.c + 4, 383)
        |  LEFT JOIN sat s21 ON s21.r = LEAST(t.r + 4, 255)
        |    AND s21.c = GREATEST(t.c - 4, 0) - 1
        |  LEFT JOIN sat s11 ON s11.r = GREATEST(t.r - 4, 0) - 1
        |    AND s11.c = GREATEST(t.c - 4, 0) - 1),
        |b16 AS (
        |  SELECT t.r, t.c,
        |    (LEAST(t.r + 16, 255) - GREATEST(t.r - 16, 0) + 1) *
        |    (LEAST(t.c + 16, 383) - GREATEST(t.c - 16, 0) + 1) AS n,
        |    coalesce(s22.s, 0) - coalesce(s12.s, 0)
        |      - coalesce(s21.s, 0) + coalesce(s11.s, 0) AS bs
        |  FROM sat t
        |  LEFT JOIN sat s22 ON s22.r = LEAST(t.r + 16, 255)
        |    AND s22.c = LEAST(t.c + 16, 383)
        |  LEFT JOIN sat s12 ON s12.r = GREATEST(t.r - 16, 0) - 1
        |    AND s12.c = LEAST(t.c + 16, 383)
        |  LEFT JOIN sat s21 ON s21.r = LEAST(t.r + 16, 255)
        |    AND s21.c = GREATEST(t.c - 16, 0) - 1
        |  LEFT JOIN sat s11 ON s11.r = GREATEST(t.r - 16, 0) - 1
        |    AND s11.c = GREATEST(t.c - 16, 0) - 1),
        |j AS (
        |  SELECT b4.v * b4.n - b4.bs AS tpi_s, b4.n AS n_s,
        |    b4.v * b16.n - b16.bs AS tpi_l, b16.n AS n_l
        |  FROM b4 JOIN b16 ON b4.r = b16.r AND b4.c = b16.c)
        |SELECT
        |  CAST(CASE WHEN tpi_s > 5 * n_s THEN 1
        |    WHEN tpi_s < -5 * n_s THEN -1 ELSE 0 END AS BIGINT) AS class_s,
        |  CAST(CASE WHEN tpi_l > 5 * n_l THEN 1
        |    WHEN tpi_l < -5 * n_l THEN -1 ELSE 0 END AS BIGINT) AS class_l,
        |  CAST(count(*) AS BIGINT) AS n_cells,
        |  CAST(sum(tpi_s) AS BIGINT) AS sum_tpi_s,
        |  CAST(sum(tpi_l) AS BIGINT) AS sum_tpi_l
        |FROM j GROUP BY 1, 2 ORDER BY class_s, class_l""".stripMargin),

    // COST BACKLINK (r63) — the ArcGIS CostDistance "backlink" output
    // over the converged r45 surface: per reachable cell, the D8 index
    // (1..8, clockwise from east; 0 at sources) of the chosen
    // predecessor on an optimal path. Among exact witnesses
    // (dist(v) + (q(v)+q(u))*wgt == dist(u) — exact dyadic sums) the
    // smallest direction wins, so the raster is engine- and
    // partitioning-independent. Scale shape: ONE halo exchange over the
    // already-converged distance tiles; no iteration, no driver state.
    GatedQuery("r63_cost_backlink", (s, _) => {
      import s.implicits._
      graft.operators.CostDistance.backlink(demTiles(s), Synth.demRef,
          tileRes, isSource = _ >= 240.0)
        .orderBy($"row", $"col")
    },
    // r63: converged r45 Bellman-Ford surface + the exact-witness argmin
    // (min direction k whose neighbor satisfies d_n + (q_n+q)*wgt = d —
    // all values dyadic-exact, so = is legitimate); sources get 0
    {
      val nc = Synth.demRef.ncols
      val n = Synth.demRef.nrows.toLong * nc
      val iters = 120
      s"""WITH RECURSIVE gg AS (SELECT (i // $nc) AS r, (i % $nc) AS c FROM range($n) t(i)),
         |vals AS MATERIALIZED (SELECT r, c, ((r * 31 + c * 17) % 1000) / 4.0 AS q FROM gg
         |  WHERE NOT ((r * $nc + c) % 97 = 13)),
         |dd9(dr, dc, wgt) AS (VALUES (0,0,0),(0,1,10),(1,1,14),(1,0,10),(1,-1,14),
         |                           (0,-1,10),(-1,-1,14),(-1,0,10),(-1,1,14)),
         |cd AS (
         |  SELECT 0 AS it, r, c, q, CASE WHEN q >= 240.0 THEN 0.0 ELSE 1e30 END AS d
         |  FROM vals
         |  UNION ALL
         |  SELECT p.it + 1, t.r, t.c, t.q,
         |    CASE WHEN t.q >= 240.0 THEN 0.0
         |         ELSE least(min(CASE WHEN d.wgt = 0 THEN p.d END),
         |                    min(CASE WHEN d.wgt > 0 THEN p.d + (p.q + t.q) * d.wgt END))
         |    END AS d
         |  FROM cd p JOIN dd9 d ON true
         |  JOIN vals t ON t.r = p.r + d.dr AND t.c = p.c + d.dc
         |  WHERE p.it < $iters
         |  GROUP BY p.it, t.r, t.c, t.q),
         |final AS MATERIALIZED (SELECT r, c, q, d FROM cd WHERE it = $iters AND d < 1e30),
         |dirs(k, dr, dc, wgt) AS (VALUES (1,0,1,10),(2,1,1,14),(3,1,0,10),(4,1,-1,14),
         |                               (5,0,-1,10),(6,-1,-1,14),(7,-1,0,10),(8,-1,1,14)),
         |nb AS (SELECT f.r, f.c, min(dd.k) AS mink
         |  FROM final f JOIN dirs dd ON true
         |  JOIN final x ON x.r = f.r + dd.dr AND x.c = f.c + dd.dc
         |  WHERE f.d > 0 AND x.d + (x.q + f.q) * dd.wgt = f.d
         |  GROUP BY f.r, f.c)
         |SELECT CAST(f.r AS BIGINT) AS row, CAST(f.c AS BIGINT) AS col,
         |  CAST(CASE WHEN f.d = 0 THEN 0 ELSE nb.mink END AS BIGINT) AS dir
         |FROM final f LEFT JOIN nb ON nb.r = f.r AND nb.c = f.c
         |ORDER BY row, col""".stripMargin
    }),

    // LEAST-COST PATH (r64) — CostPath from a fixed target back to the
    // nearest source, following r63's deterministic backlink chain.
    // Scale shape: the target's cost ball is collected and walked on the
    // driver while it fits the DriverGate budget; above it POINTER DOUBLING
    // over the predecessor DataFrame (jump table and path prefix double
    // each round) — O(log pathLen) rounds, no path cell collected.
    GatedQuery("r64_cost_path", (s, _) => {
      graft.operators.CostDistance.leastCostPath(demTiles(s), Synth.demRef,
        tileRes, isSource = _ >= 240.0, targetRow = 200, targetCol = 150)
    },
    // r64: the backlink table walked from (200, 150) by a second
    // recursive CTE — one step per iteration, dir 0 terminates at the
    // source; positions and distances must match the engine's
    // pointer-doubled enumeration row-for-row
    {
      val nc = Synth.demRef.ncols
      val n = Synth.demRef.nrows.toLong * nc
      val iters = 120
      s"""WITH RECURSIVE gg AS (SELECT (i // $nc) AS r, (i % $nc) AS c FROM range($n) t(i)),
         |vals AS MATERIALIZED (SELECT r, c, ((r * 31 + c * 17) % 1000) / 4.0 AS q FROM gg
         |  WHERE NOT ((r * $nc + c) % 97 = 13)),
         |dd9(dr, dc, wgt) AS (VALUES (0,0,0),(0,1,10),(1,1,14),(1,0,10),(1,-1,14),
         |                           (0,-1,10),(-1,-1,14),(-1,0,10),(-1,1,14)),
         |cd AS (
         |  SELECT 0 AS it, r, c, q, CASE WHEN q >= 240.0 THEN 0.0 ELSE 1e30 END AS d
         |  FROM vals
         |  UNION ALL
         |  SELECT p.it + 1, t.r, t.c, t.q,
         |    CASE WHEN t.q >= 240.0 THEN 0.0
         |         ELSE least(min(CASE WHEN d.wgt = 0 THEN p.d END),
         |                    min(CASE WHEN d.wgt > 0 THEN p.d + (p.q + t.q) * d.wgt END))
         |    END AS d
         |  FROM cd p JOIN dd9 d ON true
         |  JOIN vals t ON t.r = p.r + d.dr AND t.c = p.c + d.dc
         |  WHERE p.it < $iters
         |  GROUP BY p.it, t.r, t.c, t.q),
         |final AS MATERIALIZED (SELECT r, c, q, d FROM cd WHERE it = $iters AND d < 1e30),
         |dirs(k, dr, dc, wgt) AS (VALUES (1,0,1,10),(2,1,1,14),(3,1,0,10),(4,1,-1,14),
         |                               (5,0,-1,10),(6,-1,-1,14),(7,-1,0,10),(8,-1,1,14)),
         |nb AS (SELECT f.r, f.c, min(dd.k) AS mink
         |  FROM final f JOIN dirs dd ON true
         |  JOIN final x ON x.r = f.r + dd.dr AND x.c = f.c + dd.dc
         |  WHERE f.d > 0 AND x.d + (x.q + f.q) * dd.wgt = f.d
         |  GROUP BY f.r, f.c),
         |bl AS MATERIALIZED (SELECT f.r, f.c, f.d,
         |    CASE WHEN f.d = 0 THEN 0 ELSE nb.mink END AS dir
         |  FROM final f LEFT JOIN nb ON nb.r = f.r AND nb.c = f.c),
         |walk AS (
         |  SELECT 0 AS pos, b.r, b.c, b.d, b.dir FROM bl b
         |  WHERE b.r = 200 AND b.c = 150
         |  UNION ALL
         |  SELECT w.pos + 1, b.r, b.c, b.d, b.dir
         |  FROM walk w JOIN dirs dd ON dd.k = w.dir
         |  JOIN bl b ON b.r = w.r + dd.dr AND b.c = w.c + dd.dc
         |  WHERE w.dir > 0)
         |SELECT CAST(pos AS BIGINT) AS pos, CAST(r AS BIGINT) AS row,
         |  CAST(c AS BIGINT) AS col, d AS dist
         |FROM walk ORDER BY pos""".stripMargin
    }),

    // MULTIDIRECTIONAL HILLSHADE (r65) — the soft-shadow rendering pass
    // (GDAL -multidirectional family), and the FIRST hillshade-family
    // numeric surface under the cross-engine hash: the sqrt-only
    // Lambertian formulation (light dot unit-normal; constants all in
    // {0, +-1, +-sqrt(0.5)}) has no libm trig, so every shade value is
    // a chain of correctly-rounded IEEE ops on the r8-gated gradient.
    GatedQuery("r65_multidir_hillshade", (s, _) => {
      import s.implicits._
      val dem = TileOps.tileGrid(s, Synth.demRef, tileRes)(Synth.demValue)
      Stencil.multidirShade(Stencil.hornGradient(dem, Synth.demRef, tileRes))
        .filter(($"row" * lit(Synth.demRef.ncols) + $"col") % 23 === 7)
        .select($"row".cast("long").as("row"), $"col".cast("long").as("col"),
          $"shade")
        .orderBy($"row", $"col")
    },
    // r65: the r8 Horn CTE + the identical sqrt-only shade chain —
    // GREATEST(0, (sqrt(.5) - sqrt(.5)*(gx*sin_az + gy*cos_az)) /
    // sqrt(1 + gx^2 + gy^2)) averaged over the four azimuths, every
    // constant and op in the same order as the engine's Column tree
    {
      val nc = Synth.demRef.ncols
      def v(rr: String, cc: String): String =
        s"((($rr) * 31 + ($cc) * 17) % 1000) / 4.0"
      def hole(rr: String, cc: String): String =
        s"(($rr) * $nc + ($cc)) % 97 = 13"
      val n = Seq(
        ("tl", -1, -1), ("tp", -1, 0), ("tr", -1, 1),
        ("l", 0, -1), ("rt", 0, 1),
        ("bl", 1, -1), ("bt", 1, 0), ("br", 1, 1))
      val holes = (n.map { case (_, dr, dc) => hole(s"r + $dr", s"c + $dc") } :+
        hole("r", "c")).mkString(" OR ")
      val defs = n.map { case (nm, dr, dc) => s"${v(s"r + $dr", s"c + $dc")} AS $nm" }
        .mkString(",\n  ")
      def sh(sinAz: String, cosAz: String): String =
        s"GREATEST(0.0, (sqrt(0.5) - sqrt(0.5) * (gx * ($sinAz) + gy * ($cosAz)))" +
          s" / sqrt(1.0 + gx * gx + gy * gy))"
      s"""WITH g AS (SELECT (i // $nc) AS r, (i % $nc) AS c
         |  FROM range(${Synth.demRef.nrows.toLong * nc}) t(i)
         |  WHERE i % 23 = 7
         |    AND (i // $nc) BETWEEN 1 AND ${Synth.demRef.nrows - 2}
         |    AND (i % $nc) BETWEEN 1 AND ${nc - 2}
         |    AND NOT ($holes)),
         |nb AS (SELECT r, c,
         |  $defs FROM g),
         |gr AS (SELECT r, c,
         |  ((tr + 2 * rt + br) - (tl + 2 * l + bl)) / (8 * 5.0) AS gx,
         |  ((tl + 2 * tp + tr) - (bl + 2 * bt + br)) / (8 * 5.0) AS gy
         |FROM nb)
         |SELECT r AS row, c AS col,
         |  (${sh("-sqrt(0.5)", "-sqrt(0.5)")}
         |   + ${sh("-1.0", "0.0")}
         |   + ${sh("-sqrt(0.5)", "sqrt(0.5)")}
         |   + ${sh("0.0", "1.0")}) / 4.0 AS shade
         |FROM gr ORDER BY row, col""".stripMargin
    })
  )
}
