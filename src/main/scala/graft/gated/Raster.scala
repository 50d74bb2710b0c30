package graft
package gated

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core._
import graft.corpus.Synth
import graft.operators.{Bilinear, ClipPolygon, Convolve, Downsample, Focal, Gather, Knn,
  Line2Sub, PtRec, Rasterize, Reproject, TileFns, TileOps, Vectorize}
import Fixtures.{tileRes, demTiles}

/** Raster core gates (r): clip, mosaic, burn-in, resampling,
  * reprojection, interpolation, vectorization and focal/zonal map
  * algebra. Raster operators run the real distributed path (tiles +
  * cell-id shuffles; most read the icelite-backed DEM fixture); their
  * oracles regenerate the same integer-derived fixture grid in SQL, so
  * results hash-match bit-for-bit (no libm floats). */
object RasterGates {

  /** DuckDB-side regeneration of the DEM fixture grid (must mirror
    * Synth.demValue exactly — integer arithmetic only). */
  private def demSql: String =
    s"""SELECT (i // ${Synth.demRef.ncols}) AS r, (i % ${Synth.demRef.ncols}) AS c,
       | CASE WHEN (i % 97) = 13 THEN NULL
       |      ELSE (((i // ${Synth.demRef.ncols}) * 31 + (i % ${Synth.demRef.ncols}) * 17) % 1000) / 4.0 END AS v
       |FROM range(${Synth.demRef.nrows.toLong * Synth.demRef.ncols}) t(i)""".stripMargin

  /** r17 oracle: full replication of the reproject warp in DuckDB — the
    * target-grid derivation (boundary-ring transform, cal_tsf cellsize/
    * dims), the per-pixel inverse transform (TM inverse w/ 20 guarded
    * footpoint iterations, Helmert datum shift, 10-iteration ECEF ->
    * geodetic, TM forward) and the nearest gather + band sums. The TM/
    * Helmert arithmetic is generated by [[ProjSql]] with every derived
    * constant interpolated as the exact engine-computed double; the
    * fixture's nearest-pixel rint margins (>= 1e-5 px, measured over all
    * 30,954 target pixels) absorb cross-engine libm ULP divergence.
    *
    * Scope note: SQL and engine share the OSGB/Snyder series FORMULAS, so
    * this oracle gates the warp machinery (target-grid derivation, cover,
    * per-pixel gather, band aggregation) rather than the series itself —
    * the series is anchored to external truth by the ProjSpec OSGB
    * worked-example test (< 5 mm vs the published TM coordinates). */
  private def r17Sql: String = {
    val src = graft.core.Proj.fromEpsg(27700)
    val dst = graft.core.Proj.fromEpsg(32630)
    val (fwdCtes, fwdOut) = ProjSql.transformCtes("fw", "ring", Seq(), "rx", "ry", src, dst)
    val (invCtes, invOut) = ProjSql.transformCtes("pv", "px", Seq("pr", "pc"), "qx", "qy", dst, src)
    s"""WITH ring AS (
       |  SELECT 340760.0e0 + 770.0e0 * t1.i / 21 AS rx,
       |         554667.0e0 + 1015.0e0 * t2.j / 21 AS ry
       |  FROM range(22) t1(i), range(22) t2(j)
       |  WHERE t1.i = 0 OR t1.i = 21 OR t2.j = 0 OR t2.j = 21),
       |$fwdCtes,
       |bbox AS (SELECT min(ox) AS xmin, max(ox) AS xmax,
       |                min(oy) AS ymin, max(oy) AS ymax FROM $fwdOut),
       |hdr AS (SELECT xmin,
       |  greatest((xmax - xmin) / 154, (ymax - ymin) / 203) AS cs,
       |  greatest(1, CAST(round((xmax - xmin) / cs) AS BIGINT)) AS w,
       |  greatest(1, CAST(round((ymax - ymin) / cs) AS BIGINT)) AS h,
       |  ymax - h * cs AS yll,
       |  yll + h * cs AS top
       |  FROM bbox),
       |px AS (SELECT r.r AS pr, c.c AS pc,
       |  hdr.xmin + (c.c + 0.5e0) * hdr.cs AS qx,
       |  hdr.top - (r.r + 0.5e0) * hdr.cs AS qy
       |  FROM hdr, range(1024) r(r), range(1024) c(c)
       |  WHERE r.r < hdr.h AND c.c < hdr.w),
       |$invCtes,
       |gath AS (SELECT pr, pc,
       |  CAST(round((555679.5e0 - oy) / 5.0e0) AS BIGINT) AS sr,
       |  CAST(round((ox - 340762.5e0) / 5.0e0) AS BIGINT) AS sc
       |  FROM $invOut),
       |vals AS (SELECT pr,
       |  CASE WHEN sr < 0 OR sr >= 203 OR sc < 0 OR sc >= 154 THEN NULL
       |       WHEN (sr * 154 + sc) % 97 = 13 THEN NULL
       |       ELSE ((sr * 31 + sc * 17) % 1000) / 4.0e0 END AS v
       |  FROM gath)
       |SELECT CAST(pr // 16 AS BIGINT) AS band,
       |  CAST(count(v) AS BIGINT) AS n_valid, sum(v) AS sum_v
       |FROM vals GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Ray-casting point-in-polygon as SQL, bit-identical to
    * RefKernel.pointInPolygon (same operand order in the cross test). */
  private def pipSql(xs: Array[Double], ys: Array[Double]): String = {
    val terms = (1 until xs.length).map { i =>
      val j = i - 1
      val (xi, yi, xj, yj) = (xs(i), ys(i), xs(j), ys(j))
      s"(CASE WHEN (($yi > py) != ($yj > py)) AND (px < ($xj - $xi) * (py - $yi) / ($yj - $yi) + $xi) THEN 1 ELSE 0 END)"
    }
    s"((${terms.mkString(" + ")}) % 2 = 1)"
  }

  val gated: Seq[GatedQuery] = Seq(
    // A1/A2: NaN-ignoring stats over the tiled DEM (icelite-backed scan)
    GatedQuery("r1_grid_stats", (s, _) => {
      TileOps.stats(demTiles(s))
    },
      s"""WITH g AS ($demSql)
         |SELECT max(v) AS max_v, min(v) AS min_v, median(v) AS median_v,
         |  CAST(count(v) AS BIGINT) AS valid_cells, sum(v) AS sum_v
         |FROM g""".stripMargin),

    // P1: rect_clip with snap (tutorial extent), banded checksum — reads
    // the icelite table, so the Z-range cover predicate pushes into a real
    // Parquet scan (PushedFilters on cellId)
    GatedQuery("r2_rect_clip", (s, _) => {
      import s.implicits._
      val dem = demTiles(s)
      val (clipped, (r0, _, _, _)) =
        TileOps.rectClip(dem, Synth.demRef, Synth.tutorialClip, tileRes)
      TileOps.cells(clipped)
        .withColumn("band", floor(($"row" - lit(r0)) / 16).cast("long"))
        .groupBy($"band")
        .agg(count($"v").as("n_valid"), count(lit(1)).as("n_cells"),
          sum($"v").as("sum_v"))
        .orderBy($"band")
    },
    {
      val (r0, r1, c0, c1) = Synth.demRef.clipWindow(Synth.tutorialClip)
      s"""WITH g AS ($demSql)
         |SELECT CAST((r - $r0) // 16 AS BIGINT) AS band,
         |  CAST(count(v) AS BIGINT) AS n_valid,
         |  CAST(count(*) AS BIGINT) AS n_cells, sum(v) AS sum_v
         |FROM g WHERE r BETWEEN $r0 AND $r1 AND c BETWEEN $c0 AND $c1
         |GROUP BY 1 ORDER BY 1""".stripMargin
    }),

    // J3: union-extent mosaic, later source wins INCLUDING nodata
    GatedQuery("r3_mosaic", (s, _) => {
      import s.implicits._
      val a = TileOps.tileGrid(s, Synth.gridARef, tileRes)(Synth.gridAValue)
      val b = TileOps.tileGrid(s, Synth.gridBRef, tileRes)(Synth.gridBValue)
      val patches = TileOps.alignedPatches(a, Synth.gridARef, Synth.mosaicRef,
          tileRes, seq = 0, coverAll = true)
        .union(TileOps.alignedPatches(b, Synth.gridBRef, Synth.mosaicRef,
          tileRes, seq = 1, coverAll = true))
      TileOps.cells(TileOps.mosaic(patches))
        .withColumn("band", floor($"row" / 16).cast("long"))
        .groupBy($"band")
        .agg(count($"v").as("n_valid"), sum($"v").as("sum_v"))
        .orderBy($"band")
    },
    {
      val m = Synth.mosaicRef
      val a = Synth.gridARef
      val b = Synth.gridBRef
      // pixel offsets of A and B inside the union grid
      val aRowOff = ((m.top - a.top) / m.cellsize).toInt
      val aColOff = ((a.left - m.left) / m.cellsize).toInt
      val bRowOff = ((m.top - b.top) / m.cellsize).toInt
      val bColOff = ((b.left - m.left) / m.cellsize).toInt
      s"""WITH g AS (SELECT (i // ${m.ncols}) AS r, (i % ${m.ncols}) AS c
         |  FROM range(${m.nrows.toLong * m.ncols}) t(i)),
         |v AS (SELECT r, c,
         |  CASE WHEN r BETWEEN $bRowOff AND ${bRowOff + b.nrows - 1}
         |        AND c BETWEEN $bColOff AND ${bColOff + b.ncols - 1} THEN
         |    CASE WHEN ((r - $bRowOff) * ${b.ncols} + (c - $bColOff)) % 71 = 3 THEN NULL
         |         ELSE (((r - $bRowOff) * 5 + (c - $bColOff) * 3) % 80) / 4.0 END
         |  WHEN r BETWEEN $aRowOff AND ${aRowOff + a.nrows - 1}
         |        AND c BETWEEN $aColOff AND ${aColOff + a.ncols - 1} THEN
         |    CASE WHEN ((r - $aRowOff) * ${a.ncols} + (c - $aColOff)) % 89 = 7 THEN NULL
         |         ELSE (((r - $aRowOff) * 13 + (c - $aColOff) * 7) % 100) / 4.0 END
         |  END AS v FROM g)
         |SELECT CAST(r // 16 AS BIGINT) AS band,
         |  CAST(count(v) AS BIGINT) AS n_valid, sum(v) AS sum_v
         |FROM v GROUP BY 1 ORDER BY 1""".stripMargin
    }),

    // J1: rasterize burn join (CA1 features, attribute burn, last wins)
    GatedQuery("r4_rasterize", (s, _) => {
      import s.implicits._
      Rasterize(s, Synth.ca1Features, Synth.demRef, tileRes, useAttr = true)
        .toDF("row", "col", "burn")
        .groupBy($"burn")
        .agg(count(lit(1)).as("n"), sum($"row").as("sum_row"),
          sum($"col").as("sum_col"))
        .orderBy($"burn")
    },
    {
      val ref = Synth.demRef
      // reverse feature order = sequential last-wins (Raster.py:330)
      val cases = Synth.ca1Features.sortBy(-_.seq).map { f =>
        s"WHEN ${pipSql(f.xs, f.ys)} THEN ${f.attr}"
      }.mkString(" ")
      s"""WITH g AS (SELECT (i // ${ref.ncols}) AS r, (i % ${ref.ncols}) AS c,
         |  ${ref.left} + ((i % ${ref.ncols}) + 0.5) * ${ref.cellsize} AS px,
         |  ${ref.top} - ((i // ${ref.ncols}) + 0.5) * ${ref.cellsize} AS py
         |  FROM range(${ref.nrows.toLong * ref.ncols}) t(i)),
         |f AS (SELECT r, c, CASE $cases END AS burn FROM g)
         |SELECT burn, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(r) AS BIGINT) AS sum_row, CAST(sum(c) AS BIGINT) AS sum_col
         |FROM f WHERE burn IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin
    }),

    // J5: kNN scattered->grid interpolation (bucketed k-d tree path)
    GatedQuery("r5_knn", (s, _) => {
      import s.implicits._
      val pts = s.createDataset(Synth.knnPoints.map(p => PtRec(p._1, p._2, p._3, p._4)))
      Knn.nearestBucketed(s, pts, Synth.knnRef, res = 5, ringK = 1)
        .select($"row".cast("long").as("row"), $"col".cast("long").as("col"),
          $"v", $"pid")
        .orderBy($"row", $"col")
    },
      """WITH pts AS (SELECT i AS pid,
        |  -5.0 + ((i * 37) % 113) * 0.5 + 0.125 AS x,
        |  ((i * 53) % 107) * 0.25 + 0.0625 AS y,
        |  ((i * 29) % 400) / 4.0 AS v
        |  FROM range(60) t(i)),
        |cells AS (SELECT (i // 120) AS r, (i % 120) AS c,
        |  -5.0 + ((i % 120) + 0.5) * 0.5 AS cx,
        |  30.0 - ((i // 120) + 0.5) * 0.5 AS cy
        |  FROM range(7200) t(i)),
        |d AS (SELECT r, c, pid, v,
        |  row_number() OVER (PARTITION BY r, c
        |    ORDER BY (x - cx) * (x - cx) + (y - cy) * (y - cy), pid) AS rn
        |  FROM cells, pts)
        |SELECT r AS row, c AS col, v, pid FROM d WHERE rn = 1
        |ORDER BY row, col""".stripMargin),

    // W3: grid_resample_nearest gather join (5m DEM -> offset 10m grid)
    GatedQuery("r6_resample", (s, _) => {
      import s.implicits._
      val dem = TileOps.tileGrid(s, Synth.demRef, tileRes)(Synth.demValue)
      Gather.resampleNearest(dem, Synth.demRef, Synth.resampleTargetRef,
          tileRes, clamp = false)
        .select($"row".cast("long").as("row"), $"col".cast("long").as("col"), $"v")
        .orderBy($"row", $"col")
    },
      """WITH t AS (SELECT (i // 77) AS r, (i % 77) AS c FROM range(7777) t(i))
        |SELECT r AS row, c AS col,
        |  CASE WHEN ((2 * r + 1) * 154 + (2 * c + 1)) % 97 = 13 THEN NULL
        |       ELSE (((2 * r + 1) * 31 + (2 * c + 1) * 17) % 1000) / 4.0 END AS v
        |FROM t ORDER BY row, col""".stripMargin),

    // line2sub generator (Raster.py:340-366)
    GatedQuery("r7_line2sub", (s, _) => {
      import s.implicits._
      val (xs, ys) = Synth.fixtureLine
      val lines = s.createDataset(Seq(Line2Sub.LineRec(0L, xs, ys)))
      Line2Sub.cells(lines, Synth.knnRef)
        .select($"seq", $"row", $"col")
        .orderBy($"seq")
    },
      // every segment drops its last point (incl. the polyline endpoint):
      // Raster.py:356's guard is always true between integer subscripts
      """SELECT j AS seq, 50 - j AS row, 10 AS col FROM range(10) t(j)
        |UNION ALL SELECT j + 10, 40 - j, 10 + j FROM range(10) t(j)
        |UNION ALL SELECT j + 20, 30, 20 + j FROM range(40) t(j)
        |ORDER BY seq""".stripMargin),

    // J7: 1:1 equi zip join of two same-grid rasters (vectorshow pairing)
    GatedQuery("r9_zipjoin", (s, _) => {
      import s.implicits._
      val a = TileOps.cells(TileOps.tileGrid(s, Synth.gridARef, tileRes)(Synth.gridAValue))
      val b = TileOps.cells(TileOps.tileGrid(s, Synth.gridARef, tileRes)(Synth.gridBValue))
        .withColumnRenamed("v", "u")
      a.join(b, Seq("row", "col"))
        .withColumn("uv", $"v" * $"u")
        .withColumn("band", floor($"row" / 16).cast("long"))
        .groupBy($"band")
        .agg(count($"uv").as("n_valid"), sum($"uv").as("sum_uv"))
        .orderBy($"band")
    },
    {
      val a = Synth.gridARef
      s"""WITH g AS (SELECT (i // ${a.ncols}) AS r, (i % ${a.ncols}) AS c FROM range(${a.nrows.toLong * a.ncols}) t(i)),
         |vals AS (SELECT r, c,
         |  CASE WHEN (r * ${a.ncols} + c) % 89 = 7 THEN NULL
         |       ELSE ((r * 13 + c * 7) % 100) / 4.0 END AS v,
         |  CASE WHEN (r * ${Synth.gridBRef.ncols} + c) % 71 = 3 THEN NULL
         |       ELSE ((r * 5 + c * 3) % 80) / 4.0 END AS u
         |  FROM g)
         |SELECT CAST(r // 16 AS BIGINT) AS band,
         |  CAST(count(v * u) AS BIGINT) AS n_valid, sum(v * u) AS sum_uv
         |FROM vals GROUP BY 1 ORDER BY 1""".stripMargin
    }),

    // V1: vectorize — per-component POLYGON geometry (exterior + holes,
    // WKT) + value + pixel count, the reference's (geometry, value) stream.
    // FULLY hash-gated since r5: the oracle replicates the whole ring
    // assembly (left-turn successor, canonical rotation, ring order,
    // vertex formatting) in DuckDB SQL — the WKT STRINGS compare equal,
    // closing the last no_oracle row (VERDICT r4 #3). The even-odd
    // rasterization round-trip ScalaTest and the r23 edge gate remain as
    // independent geometry checks.
    GatedQuery("r10_vectorize", (s, _) => {
      import s.implicits._
      val blocky = TileOps.tileGrid(s, Synth.gridARef, tileRes)(Synth.blockyValue)
      Vectorize.polygons(blocky, Synth.gridARef, tileRes)
    },
      // r10: the FULL vectorize oracle — WKT strings and all. Components by
      // the r22 recursive closure; boundary sides by the r23 rule; then the
      // ring ASSEMBLY is replicated exactly: each side becomes a DIRECTED
      // unit edge with the interior on its left (top->+x, bottom->-x,
      // left->-y, right->+y), the successor of an edge is the unique
      // outgoing edge at its head with the most-negative cross(in, out)
      // (= sharpest left turn; ties are impossible — at a saddle the two
      // incoming directions are perpendicular to both outgoing ones, so
      // cross is +/-1 and each incoming picks a distinct outgoing). succ is
      // therefore a permutation; rings are its cycles, traced by a
      // recursive CTE from every edge and deduped to the canonical rotation
      // (start = the ring's min (y, x) corner — vertex-unique within a
      // cycle because the left-turn rule splits saddles into separate
      // rings). Exterior = positive shoelace area in y-down corner coords;
      // ring order (exterior first, then holes by first vertex), vertex
      // spelling (left + x*cs, top - y*cs, integral -> integer format) and
      // separators replicate graft.operators.Vectorize.assembleWkt. The
      // MATERIALIZED hints keep DuckDB from re-inlining the succ pipeline
      // on every recursion step (170 s -> 5 s measured).
      """WITH RECURSIVE g AS MATERIALIZED (
        |  SELECT (id // 100) AS r, (id % 100) AS c, id AS cell,
        |    CAST(((id // 100) // 8 * 31 + (id % 100) // 8 * 17) % 5 AS DOUBLE) AS v
        |  FROM range(8000) t(id)
        |  WHERE id % 53 <> 11),
        |adj AS (
        |  SELECT a.cell AS c1, b.cell AS c2 FROM g a JOIN g b
        |  ON a.v = b.v AND ((abs(a.r - b.r) = 1 AND a.c = b.c)
        |                 OR (a.r = b.r AND abs(a.c - b.c) = 1))),
        |reach(cell, lbl) AS (
        |  SELECT cell, cell FROM g
        |  UNION
        |  SELECT a.c2, reach.lbl FROM reach JOIN adj a ON a.c1 = reach.cell),
        |lab AS (SELECT cell, min(lbl) AS root FROM reach GROUP BY cell),
        |cells AS MATERIALIZED (
        |  SELECT g.r, g.c, g.v, lab.root FROM g JOIN lab ON g.cell = lab.cell),
        |cand AS (
        |  SELECT x.root, x.r, x.c, x.v, s.s,
        |    x.r + CASE s.s WHEN 0 THEN -1 WHEN 1 THEN 1 ELSE 0 END AS nr,
        |    x.c + CASE s.s WHEN 2 THEN -1 WHEN 3 THEN 1 ELSE 0 END AS nc
        |  FROM cells x, (VALUES (0), (1), (2), (3)) s(s)),
        |bdry AS (
        |  SELECT cand.root, cand.r, cand.c, cand.s
        |  FROM cand LEFT JOIN g nb ON nb.r = cand.nr AND nb.c = cand.nc
        |  WHERE nb.cell IS NULL OR nb.v <> cand.v),
        |ed AS (
        |  SELECT root, (r * 100 + c) * 4 + s AS eid,
        |    CASE s WHEN 0 THEN c     WHEN 1 THEN c + 1 WHEN 2 THEN c     ELSE c + 1 END AS fx,
        |    CASE s WHEN 0 THEN r     WHEN 1 THEN r + 1 WHEN 2 THEN r + 1 ELSE r     END AS fy,
        |    CASE s WHEN 0 THEN c + 1 WHEN 1 THEN c     WHEN 2 THEN c     ELSE c + 1 END AS tx,
        |    CASE s WHEN 0 THEN r     WHEN 1 THEN r + 1 WHEN 2 THEN r     ELSE r + 1 END AS ty
        |  FROM bdry),
        |ed2 AS MATERIALIZED (SELECT *, tx - fx AS dx, ty - fy AS dy FROM ed),
        |succ AS MATERIALIZED (
        |  SELECT eid, succ_eid FROM (
        |    SELECT e.eid, o.eid AS succ_eid,
        |      row_number() OVER (PARTITION BY e.eid
        |        ORDER BY e.dx * o.dy - e.dy * o.dx) AS rn
        |    FROM ed2 e JOIN ed2 o
        |      ON o.root = e.root AND o.fx = e.tx AND o.fy = e.ty)
        |  WHERE rn = 1),
        |walk(start_eid, cur_eid, step) AS (
        |  SELECT eid, eid, 0 FROM ed2
        |  UNION ALL
        |  SELECT w.start_eid, s.succ_eid, w.step + 1
        |  FROM walk w JOIN succ s ON s.eid = w.cur_eid
        |  WHERE s.succ_eid <> w.start_eid),
        |wv AS MATERIALIZED (
        |  SELECT w.start_eid, w.step, e.root, e.fx, e.fy, e.tx, e.ty
        |  FROM walk w JOIN ed2 e ON e.eid = w.cur_eid),
        |ringstat AS (
        |  SELECT start_eid, root,
        |    min(CASE WHEN step = 0 THEN fy END) AS y0,
        |    min(CASE WHEN step = 0 THEN fx END) AS x0,
        |    min(fy * 256 + fx) AS minkey,
        |    sum(fx * ty - tx * fy) AS area2
        |  FROM wv GROUP BY 1, 2),
        |canon AS (
        |  SELECT start_eid, root,
        |    CASE WHEN area2 > 0 THEN 0 ELSE 1 END AS is_hole, y0, x0
        |  FROM ringstat WHERE y0 * 256 + x0 = minkey),
        |ringstr AS (
        |  SELECT c.start_eid, c.root, c.is_hole, c.y0, c.x0,
        |    '(' || string_agg(
        |        CAST(wv.fx * 5 AS BIGINT) || ' ' || CAST(400 - wv.fy * 5 AS BIGINT),
        |        ', ' ORDER BY wv.step)
        |      || ', ' || CAST(c.x0 * 5 AS BIGINT) || ' '
        |      || CAST(400 - c.y0 * 5 AS BIGINT) || ')' AS rs
        |  FROM canon c JOIN wv ON wv.start_eid = c.start_eid
        |  GROUP BY 1, 2, 3, 4, 5),
        |polys AS (
        |  SELECT root,
        |    'POLYGON (' || string_agg(rs, ', ' ORDER BY is_hole, y0, x0) || ')' AS wkt
        |  FROM ringstr GROUP BY root),
        |meta AS (
        |  SELECT root, min(v) AS v, CAST(count(*) AS BIGINT) AS n_pixels
        |  FROM cells GROUP BY root)
        |SELECT CAST(p.root AS BIGINT) AS feature_id, m.v, m.n_pixels, p.wkt
        |FROM polys p JOIN meta m ON m.root = p.root
        |ORDER BY feature_id""".stripMargin),

    // W2: bilinear resample via halo'd gather join
    GatedQuery("r11_bilinear", (s, _) => {
      import s.implicits._
      val dem = TileOps.tileGrid(s, Synth.demRef, tileRes)(Synth.demValue)
      Bilinear.resample(dem, Synth.demRef, Synth.resampleTargetRef, tileRes)
        .select($"row".cast("long").as("row"), $"col".cast("long").as("col"), $"v")
        .orderBy($"row", $"col")
    },
    {
      val nc = Synth.demRef.ncols
      def v(rr: String, cc: String): String =
        s"(CASE WHEN (($rr) * $nc + ($cc)) % 97 = 13 THEN NULL ELSE ((($rr) * 31 + ($cc) * 17) % 1000) / 4.0 END)"
      // target (r, c) reads source corners (2r+1, 2c)..(2r+2, 2c+1) with
      // dr = 0.25, dc = 0.75 (exact by the +1.25m offset construction);
      // formula order mirrors the kernel exactly
      s"""WITH t AS (SELECT (i // 77) AS r, (i % 77) AS c FROM range(7777) t(i))
         |SELECT r AS row, c AS col,
         |  (1 - 0.25) * ((1 - 0.75) * ${v("2*r+1", "2*c")} + 0.75 * ${v("2*r+1", "2*c+1")})
         |    + 0.25 * ((1 - 0.75) * ${v("2*r+2", "2*c")} + 0.75 * ${v("2*r+2", "2*c+1")}) AS v
         |FROM t ORDER BY row, col""".stripMargin
    }),

    // P2: clip-by-polygon semi-join mask (rasterio.mask semantics)
    GatedQuery("r12_clip_polygon", (s, _) => {
      import s.implicits._
      val dem = demTiles(s) // icelite scan; semi-join prune hits PushedFilters
      val masked = ClipPolygon(dem, Synth.demRef, tileRes, Synth.ca1Features)
      TileOps.cells(masked)
        .filter($"v".isNotNull)
        .withColumn("band", floor($"row" / 16).cast("long"))
        .groupBy($"band")
        .agg(count(lit(1)).as("n_valid"), sum($"v").as("sum_v"))
        .orderBy($"band")
    },
    {
      val ref = Synth.demRef
      val insides = Synth.ca1Features.map(f => pipSql(f.xs, f.ys)).mkString(" OR ")
      s"""WITH g AS (SELECT (i // ${ref.ncols}) AS r, (i % ${ref.ncols}) AS c,
         |  CASE WHEN (i % 97) = 13 THEN NULL
         |       ELSE (((i // ${ref.ncols}) * 31 + (i % ${ref.ncols}) * 17) % 1000) / 4.0 END AS v,
         |  ${ref.left} + ((i % ${ref.ncols}) + 0.5) * ${ref.cellsize} AS px,
         |  ${ref.top} - ((i // ${ref.ncols}) + 0.5) * ${ref.cellsize} AS py
         |  FROM range(${ref.nrows.toLong * ref.ncols}) t(i))
         |SELECT CAST(r // 16 AS BIGINT) AS band,
         |  CAST(count(*) AS BIGINT) AS n_valid, sum(v) AS sum_v
         |FROM g WHERE v IS NOT NULL AND ($insides)
         |GROUP BY 1 ORDER BY 1""".stripMargin
    }),

    // A4: rank classification counts (grid_show breaks semantics)
    GatedQuery("r13_classify", (s, _) => {
      import s.implicits._
      val dem = TileOps.tileGrid(s, Synth.demRef, tileRes)(Synth.demValue)
      val classed = TileFns.classify(dem, Array(50.0, 100.0, 150.0, 200.0))
      TileOps.cells(classed)
        .groupBy($"v".as("class"))
        .agg(count(lit(1)).as("n"))
        .orderBy($"class")
    },
      s"""WITH g AS ($demSql)
         |SELECT CASE WHEN v IS NULL OR v < 50 THEN NULL
         |            WHEN v < 100 THEN 1.0 WHEN v < 150 THEN 2.0
         |            WHEN v < 200 THEN 3.0 ELSE 4.0 END AS class,
         |  CAST(count(*) AS BIGINT) AS n
         |FROM g GROUP BY 1 ORDER BY 1""".stripMargin),

    // W2: window-agg downsample kernels (zero-shuffle per-tile windows)
    GatedQuery("r14_resample_avg", (s, _) => {
      import s.implicits._
      val dem = TileOps.tileGrid(s, Synth.demRef, tileRes)(Synth.demValue)
      Downsample.stats(dem, Synth.demRef, tileRes, factor = 4, "average")
        .select($"row".cast("long").as("row"), $"col".cast("long").as("col"), $"v")
        .orderBy($"row", $"col")
    },
      s"""WITH g AS ($demSql)
         |SELECT r // 4 AS row, c // 4 AS col, avg(v) AS v
         |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    GatedQuery("r15_resample_med", (s, _) => {
      import s.implicits._
      val dem = TileOps.tileGrid(s, Synth.demRef, tileRes)(Synth.demValue)
      Downsample.stats(dem, Synth.demRef, tileRes, factor = 4, "med")
        .select($"row".cast("long").as("row"), $"col".cast("long").as("col"), $"v")
        .orderBy($"row", $"col")
    },
      s"""WITH g AS ($demSql)
         |SELECT r // 4 AS row, c // 4 AS col, median(v) AS v
         |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // S4: GeoTIFF ingest — pure-JVM tiled-layout reader -> distributed
    // tile split (the reference's default .tif ingest path)
    GatedQuery("r16_tif_ingest", (s, _) => {
      import s.implicits._
      val ref = Synth.demRef
      val tmp = "/tmp/graft_r16_dem.tif"
      val data = Array.tabulate(ref.nrows * ref.ncols)(i =>
        Synth.demValue(i / ref.ncols, i % ref.ncols))
      graft.sources.GeoTiffWriter.write(tmp, ref, data, tileSize = 64)
      val tiles = graft.sources.GeoTiffReader.readTiles(s, tmp, tileRes)
        .map(_._2)
      TileOps.cells(tiles)
        .withColumn("band", floor($"row" / 16).cast("long"))
        .groupBy($"band")
        .agg(count($"v").as("n_valid"), sum($"v").as("sum_v"))
        .orderBy($"band")
    },
      s"""WITH g AS ($demSql)
         |SELECT CAST(r // 16 AS BIGINT) AS band,
         |  CAST(count(v) AS BIGINT) AS n_valid, sum(v) AS sum_v
         |FROM g GROUP BY 1 ORDER BY 1""".stripMargin),

    // W5: reproject warp BNG -> UTM30N (rows-only: pixel placement is
    // trig-dependent, not cross-engine hashable; parity vs the direct
    // per-pixel transform is ScalaTest-gated)
    GatedQuery("r17_reproject", (s, _) => {
      import s.implicits._
      val ref = Synth.demRef.withEpsg(27700)
      val dem = TileOps.tileGrid(s, ref, tileRes)(Synth.demValue)
      val (warped, _) = Reproject.warp(dem, ref, 32630, tileRes)
      TileOps.cells(warped)
        .withColumn("band", floor($"row" / 16).cast("long"))
        .groupBy($"band")
        .agg(count($"v").as("n_valid"), sum($"v").as("sum_v"))
        .orderBy($"band")
    },
      // r17: full reproject replication — see r17Sql scaladoc
      r17Sql),

    // J5 variant: IDW over the exact k nearest. Oracle-gated: the fixture
    // coords are dyadic so every candidate d2 is EXACT in both engines
    // (identical (d2, pid) neighbor ranking); the 1/d2-weighted mean then
    // differs only in final-ULP summation order, absorbed by the
    // round(v*10^4) quantization. DuckDB replicates the full kernel:
    // top-4 by (d2, pid), w = 1/d2, sum(w*v)/sum(w). bucketed==brute
    // stays ScalaTest-gated bitwise.
    GatedQuery("r18_idw", (s, _) => {
      import s.implicits._
      val pts = s.createDataset(Synth.knnPoints.map(p => PtRec(p._1, p._2, p._3, p._4)))
      Knn.idwBucketed(s, pts, Synth.knnRef, res = 5, k = 4)
        .filter(($"row" * lit(Synth.knnRef.ncols) + $"col") % 13 === 2)
        .select($"row".cast("long").as("row"), $"col".cast("long").as("col"),
          expr("CAST(round(v * 10000) AS BIGINT)").as("vq"))
        .orderBy($"row", $"col")
    },
      // r18: full IDW kernel replication — dyadic coords make every d2 exact
      // in both engines (identical (d2, pid) ranking); the 1/d2-weighted
      // mean differs only in final-ULP summation order, absorbed by the
      // 1e-4 quantum.
      """WITH pts AS (
        |  SELECT i AS pid,
        |    -5.0 + ((i*37) % 113) * 0.5 + 0.125 AS px,
        |    ((i*53) % 107) * 0.25 + 0.0625 AS py,
        |    ((i*29) % 400) / 4.0 AS pv
        |  FROM range(60) t(i)),
        |cells AS (
        |  SELECT (id // 120) AS row, (id % 120) AS col FROM range(7200) t(id)
        |  WHERE id % 13 = 2),
        |d AS (
        |  SELECT c.row, c.col, p.pid, p.pv,
        |    (p.px - (-5.0 + (c.col + 0.5) * 0.5)) * (p.px - (-5.0 + (c.col + 0.5) * 0.5))
        |    + (p.py - (30.0 - (c.row + 0.5) * 0.5)) * (p.py - (30.0 - (c.row + 0.5) * 0.5)) AS d2
        |  FROM cells c, pts p),
        |rk AS (
        |  SELECT row, col, pid, pv, d2,
        |    row_number() OVER (PARTITION BY row, col ORDER BY d2, pid) AS rn
        |  FROM d)
        |SELECT CAST(row AS BIGINT) AS row, CAST(col AS BIGINT) AS col,
        |  CAST(round(sum((1.0/d2) * pv) / sum(1.0/d2) * 10000) AS BIGINT) AS vq
        |FROM rk WHERE rn <= 4 GROUP BY row, col ORDER BY row, col""".stripMargin),

    // W2: cubic convolution resample (rows-only: masked-renormalized
    // 4x4 kernel sums are not cross-engine hashable; all four convolution
    // kernels are ScalaTest-gated vs direct computation)
    GatedQuery("r19_resample_cubic", (s, _) => {
      import s.implicits._
      val dem = TileOps.tileGrid(s, Synth.demRef, tileRes)(Synth.demValue)
      Convolve.resample(dem, Synth.demRef, Synth.resampleTargetRef, tileRes, "cubic")
        .filter(($"row" * lit(Synth.resampleTargetRef.ncols) + $"col") % 11 === 3)
        .select($"row".cast("long").as("row"), $"col".cast("long").as("col"), $"v")
        .orderBy($"row", $"col")
    },
      // r19: the 4x4 Keys cubic (a=-0.5) at the fixed .25/.75 fractional
      // offsets of the resample target — every weight, product and partial
      // sum is an exact dyadic rational, so the masked-renormalized result
      // is BIT-identical across engines (no quantization needed). Weight
      // literals are w(1.25), w(0.25), w(0.75), w(1.75) per tap index.
      """WITH cells AS (
        |  SELECT (id // 77) AS trow, (id % 77) AS tcol FROM range(7777) t(id)
        |  WHERE id % 11 = 3),
        |taps AS (
        |  SELECT c.trow, c.tcol,
        |    2*c.trow + dr.k AS sr, 2*c.tcol - 1 + dc.k AS sc,
        |    (CASE dr.k WHEN 0 THEN -0.0703125 WHEN 1 THEN 0.8671875
        |               WHEN 2 THEN 0.2265625 ELSE -0.0234375 END)
        |    * (CASE dc.k WHEN 0 THEN -0.0234375 WHEN 1 THEN 0.2265625
        |                 WHEN 2 THEN 0.8671875 ELSE -0.0703125 END) AS w
        |  FROM cells c, range(4) dr(k), range(4) dc(k)
        |  WHERE 2*c.trow + dr.k BETWEEN 0 AND 202
        |    AND 2*c.tcol - 1 + dc.k BETWEEN 0 AND 153),
        |tv AS (
        |  SELECT trow, tcol, w,
        |    CASE WHEN (sr*154 + sc) % 97 = 13 THEN NULL
        |         ELSE ((sr*31 + sc*17) % 1000) / 4.0 END AS v
        |  FROM taps),
        |agg AS (
        |  SELECT trow, tcol,
        |    sum(w*v) FILTER (v IS NOT NULL) AS num,
        |    sum(w) FILTER (v IS NOT NULL) AS den
        |  FROM tv GROUP BY 1, 2)
        |SELECT CAST(trow AS BIGINT) AS row, CAST(tcol AS BIGINT) AS col,
        |  CASE WHEN den IS NULL OR den = 0 THEN 'NaN'::DOUBLE ELSE num/den END AS v
        |FROM agg ORDER BY row, col""".stripMargin),

    // J5 point_interpolate method='linear': distributed Delaunay linear
    // with circumcircle-containment exactness proof per cell. Oracle-gated
    // via LINEAR PRECISION: points sample a dyadic plane (hull corners
    // included so all 7200 cells resolve), barycentric interpolation must
    // reproduce it, and the DuckDB oracle is the closed-form polynomial at
    // cell centers quantized to round(v*10^4) (Synth.delaunayPlanePoints
    // scaladoc carries the error budget). distributed == driver-global
    // Delaunay stays ScalaTest-gated on the non-polynomial knnPoints.
    GatedQuery("r20_delaunay", (s, _) => {
      import s.implicits._
      val pts = s.createDataset(Synth.delaunayPlanePoints(2.0, 0.5, 0.25)
        .map(p => PtRec(p._1, p._2, p._3, p._4)).toSeq)
      graft.operators.Delaunay.linearBucketed(s, pts, Synth.knnRef, res = 5)
        .select($"row".cast("long").as("row"), $"col".cast("long").as("col"),
          expr("CAST(round(v * 10000) AS BIGINT)").as("vq"))
        .orderBy($"row", $"col")
    },
      // r20/r21: closed-form plane at cell centers (linear precision of the
      // Delaunay/CT interpolants; see Synth.delaunayPlanePoints scaladoc for
      // the quantization error budget). knnRef: x = -5 + (col+0.5)*0.5,
      // y = 30 - (row+0.5)*0.5.
      """SELECT CAST(r.a AS BIGINT) AS row, CAST(c.b AS BIGINT) AS col,
        |  CAST(round((2.0 + 0.5 * (-5.0 + (c.b + 0.5) * 0.5)
        |    + 0.25 * (30.0 - (r.a + 0.5) * 0.5)) * 10000) AS BIGINT) AS vq
        |FROM range(60) r(a), range(120) c(b) ORDER BY row, col""".stripMargin),

    // J5 point_interpolate method='cubic': distributed reduced
    // Clough-Tocher C1 cubic with per-vertex 1-ring exactness proof.
    // Oracle-gated via the CT linear-precision property (WLS 1-ring
    // gradients are exact on linear fields — DelaunaySpec): a different
    // dyadic plane than r20, same round(v*10^4) quantization. The full
    // C1/quadratic-with-exact-gradients behavior stays ScalaTest-gated.
    GatedQuery("r21_delaunay_cubic", (s, _) => {
      import s.implicits._
      val pts = s.createDataset(Synth.delaunayPlanePoints(-1.0, 0.75, -0.5)
        .map(p => PtRec(p._1, p._2, p._3, p._4)).toSeq)
      graft.operators.Delaunay.cubicBucketed(s, pts, Synth.knnRef, res = 5)
        .select($"row".cast("long").as("row"), $"col".cast("long").as("col"),
          expr("CAST(round(v * 10000) AS BIGINT)").as("vq"))
        .orderBy($"row", $"col")
    },
      """SELECT CAST(r.a AS BIGINT) AS row, CAST(c.b AS BIGINT) AS col,
        |  CAST(round((-1.0 + 0.75 * (-5.0 + (c.b + 0.5) * 0.5)
        |    - 0.5 * (30.0 - (r.a + 0.5) * 0.5)) * 10000) AS BIGINT) AS vq
        |FROM range(60) r(a), range(120) c(b) ORDER BY row, col""".stripMargin),

    // V1 stats form: per-value connected-component count + pixel count —
    // hash-gated against a DuckDB RECURSIVE-CTE oracle (transitive
    // closure of the same-value 4-adjacency, min label per cell), so the
    // distributed label/seam machinery is oracle-checked; the geometry
    // form stays r10 + the rasterization round-trip ScalaTest.
    GatedQuery("r22_component_stats", (s, _) => {
      import s.implicits._
      val blocky = TileOps.tileGrid(s, Synth.gridARef, tileRes)(Synth.blockyValue)
      Vectorize.componentStats(blocky, Synth.gridARef, tileRes)
    },
      // r22: connected components by transitive closure over the same-value
      // 4-adjacency (closure rows bounded by sum of component-size^2 — the
      // blocky fixture's 8x8 blocks keep that ~500k), min label per cell =
      // the component root, then per-value distinct-root/pixel counts.
      """WITH RECURSIVE g AS (
        |  SELECT (id // 100) AS r, (id % 100) AS c, id AS cell,
        |    CAST(((id // 100) // 8 * 31 + (id % 100) // 8 * 17) % 5 AS DOUBLE) AS v
        |  FROM range(8000) t(id)
        |  WHERE id % 53 <> 11),
        |adj AS (
        |  SELECT a.cell AS c1, b.cell AS c2 FROM g a JOIN g b
        |  ON a.v = b.v AND ((abs(a.r - b.r) = 1 AND a.c = b.c)
        |                 OR (a.r = b.r AND abs(a.c - b.c) = 1))),
        |reach(cell, lbl) AS (
        |  SELECT cell, cell FROM g
        |  UNION
        |  SELECT a.c2, reach.lbl FROM reach JOIN adj a ON a.c1 = reach.cell),
        |lab AS (SELECT cell, min(lbl) AS root FROM reach GROUP BY cell)
        |SELECT g.v, CAST(count(DISTINCT lab.root) AS BIGINT) AS n_components,
        |  CAST(count(*) AS BIGINT) AS n_pixels
        |FROM g JOIN lab ON g.cell = lab.cell
        |GROUP BY g.v ORDER BY g.v""".stripMargin),

    // Vectorize GEOMETRY hash gate: the engine's own WKT polygons (r10's
    // output — distributed label + seam merge + ring assembly) are parsed
    // back and decomposed into their canonical unit boundary edges in
    // pixel-corner units. That edge multiset is exactly the boundary of
    // each component's pixel set (outer ring + holes together, every unit
    // edge once), so DuckDB regenerates it from the mask rule + the
    // recursive-CTE component closure — the polygon geometry itself is
    // hash-verified, not just its stats (r22). Ring-assembly choices at
    // saddle corners don't affect the edge set, so the gate is exact and
    // representation-independent.
    GatedQuery("r23_vectorize_edges", (s, _) => {
      import s.implicits._
      val blocky = TileOps.tileGrid(s, Synth.gridARef, tileRes)(Synth.blockyValue)
      val polys = Vectorize.polygons(blocky, Synth.gridARef, tileRes)
      val left = Synth.gridARef.left
      val top = Synth.gridARef.top
      val cs = Synth.gridARef.cellsize
      polys.select($"feature_id", $"wkt").as[(Long, String)].flatMap {
        case (fid, wkt) =>
          val body = wkt.trim.stripPrefix("POLYGON").trim
            .stripPrefix("(").stripSuffix(")")
          body.split("\\)\\s*,\\s*\\(").iterator.flatMap { ringStr =>
            val pts = ringStr.replace("(", "").replace(")", "")
              .split(",").map { p =>
                val xy = p.trim.split("\\s+")
                (Math.rint((xy(0).toDouble - left) / cs).toLong,
                  Math.rint((top - xy(1).toDouble) / cs).toLong)
              }
            pts.iterator.sliding(2).withPartial(false).flatMap { pair =>
              val (x0, y0) = pair.head
              val (x1, y1) = pair.last
              val dx = java.lang.Long.signum(x1 - x0)
              val dy = java.lang.Long.signum(y1 - y0)
              val len = math.max(math.abs(x1 - x0), math.abs(y1 - y0))
              (0L until len).iterator.map { k =>
                val ax = x0 + dx * k; val ay = y0 + dy * k
                val bx = ax + dx; val by = ay + dy
                if (bx < ax || (bx == ax && by < ay)) (fid, bx, by, ax, ay)
                else (fid, ax, ay, bx, by)
              }
            }
          }
      }.toDF("feature_id", "x0", "y0", "x1", "y1")
        .orderBy($"feature_id", $"x0", $"y0", $"x1", $"y1")
    },
      // r23: the canonical unit-edge decomposition of the vectorized
      // polygons — a boundary edge is any pixel side whose 4-neighbor is
      // missing from the mask (NaN / off-grid) or carries a different
      // value; the component label (feature_id) is the min global pixel
      // index from the same recursive closure r22 uses. Side -> normalized
      // pixel-corner edge: top (c,r)-(c+1,r), bottom (c,r+1)-(c+1,r+1),
      // left (c,r)-(c,r+1), right (c+1,r)-(c+1,r+1).
      """WITH RECURSIVE g AS (
        |  SELECT (id // 100) AS r, (id % 100) AS c, id AS cell,
        |    CAST(((id // 100) // 8 * 31 + (id % 100) // 8 * 17) % 5 AS DOUBLE) AS v
        |  FROM range(8000) t(id)
        |  WHERE id % 53 <> 11),
        |adj AS (
        |  SELECT a.cell AS c1, b.cell AS c2 FROM g a JOIN g b
        |  ON a.v = b.v AND ((abs(a.r - b.r) = 1 AND a.c = b.c)
        |                 OR (a.r = b.r AND abs(a.c - b.c) = 1))),
        |reach(cell, lbl) AS (
        |  SELECT cell, cell FROM g
        |  UNION
        |  SELECT a.c2, reach.lbl FROM reach JOIN adj a ON a.c1 = reach.cell),
        |lab AS (SELECT cell, min(lbl) AS root FROM reach GROUP BY cell),
        |cells AS (
        |  SELECT g.r, g.c, g.v, lab.root FROM g JOIN lab ON g.cell = lab.cell),
        |cand AS (
        |  SELECT x.root, x.r, x.c, x.v, s.s,
        |    x.r + CASE s.s WHEN 0 THEN -1 WHEN 1 THEN 1 ELSE 0 END AS nr,
        |    x.c + CASE s.s WHEN 2 THEN -1 WHEN 3 THEN 1 ELSE 0 END AS nc
        |  FROM cells x, (VALUES (0), (1), (2), (3)) s(s)),
        |bdry AS (
        |  SELECT cand.root, cand.r, cand.c, cand.s
        |  FROM cand LEFT JOIN g nb ON nb.r = cand.nr AND nb.c = cand.nc
        |  WHERE nb.cell IS NULL OR nb.v <> cand.v)
        |SELECT CAST(root AS BIGINT) AS feature_id,
        |  CAST(CASE WHEN s = 3 THEN c + 1 ELSE c END AS BIGINT) AS x0,
        |  CAST(CASE WHEN s = 1 THEN r + 1 ELSE r END AS BIGINT) AS y0,
        |  CAST(CASE WHEN s = 2 THEN c ELSE c + 1 END AS BIGINT) AS x1,
        |  CAST(CASE WHEN s = 0 THEN r ELSE r + 1 END AS BIGINT) AS y1
        |FROM bdry ORDER BY feature_id, x0, y0, x1, y1""".stripMargin),

    // P7: to_points — cell-center coordinates of every cell
    // (Raster.py:553-567). Integer header × dyadic 0.5 offsets keep every
    // x/y exact in both engines; v is NULL at the NODATA holes (the
    // reference meshgrid includes them).
    GatedQuery("r34_to_points", (s, _) => {
      import s.implicits._
      TileOps.toPoints(demTiles(s), Synth.demRef)
        .select($"row".cast("long").as("row"), $"col".cast("long").as("col"),
          $"x", $"y", $"v")
        .orderBy($"row", $"col")
    },
    // r34: cell-center coordinates — integer header + (idx+0.5)·cellsize,
    // exact doubles both engines.
    {
      val ref = Synth.demRef
      s"""WITH g AS ($demSql)
         |SELECT CAST(r AS BIGINT) AS row, CAST(c AS BIGINT) AS col,
         |  ${ref.left}e0 + (c + 0.5e0) * ${ref.cellsize}e0 AS x,
         |  ${ref.top}e0 - (r + 0.5e0) * ${ref.cellsize}e0 AS y, v
         |FROM g ORDER BY row, col""".stripMargin
    }),

    // A6: axis-wise stats — per-column (axis 0) and per-row (axis 1)
    // NaN-ignoring min/max/median (Raster.py:844-854). Exact median via
    // percentile over quarter-valued cells: the even-count midpoint mean
    // is an eighth, exact in IEEE double in both engines (the r1 rule,
    // per-group).
    GatedQuery("r35_axis_stats", (s, _) => {
      import s.implicits._
      val dem = demTiles(s)
      TileOps.axisStats(dem, 0).withColumn("axis", lit(0L))
        .unionByName(TileOps.axisStats(dem, 1).withColumn("axis", lit(1L)))
        .select($"axis", $"idx", $"n_valid", $"min_v", $"max_v", $"median_v")
        .orderBy($"axis", $"idx")
    },
      // r35: per-column (axis 0) / per-row (axis 1) NaN-ignoring stats;
      // median follows the r1 rule (even-count midpoint of quarters = exact
      // eighth).
      s"""WITH g AS ($demSql)
         |SELECT CAST(0 AS BIGINT) AS axis, CAST(c AS BIGINT) AS idx,
         |  CAST(count(v) AS BIGINT) AS n_valid, min(v) AS min_v,
         |  max(v) AS max_v, median(v) AS median_v
         |FROM g GROUP BY c
         |UNION ALL
         |SELECT CAST(1 AS BIGINT), CAST(r AS BIGINT),
         |  CAST(count(v) AS BIGINT), min(v), max(v), median(v)
         |FROM g GROUP BY r
         |ORDER BY axis, idx""".stripMargin),

    // J4: paste_on — the small aligned fixture pasted onto the DEM
    // (ignore_nan=true), window clipped at the DEM's right edge
    // (Raster.py:517-551 minus its row/col-0 exclusion quirk, which the
    // RefKernel parity oracle pins separately). Distributed: precedence
    // patches folded by the streaming mosaic — one shuffle on cell id.
    GatedQuery("r36_paste_on", (s, _) => {
      import s.implicits._
      val large = Raster(demTiles(s), Synth.demRef, tileRes)
      val small = Raster(
        TileOps.tileGrid(s, Synth.pasteRef, tileRes)(Synth.pasteValue),
        Synth.pasteRef, tileRes)
      small.pasteOn(large).cells
        .select($"row".cast("long").as("row"), $"col".cast("long").as("col"), $"v")
        .orderBy($"row", $"col")
    },
    // r36: paste_on fixture — the 40x30 eighth-valued small grid lands at
    // DEM pixel offset (row 103, col 130), clipped at the right edge;
    // ignore_nan=true keeps the DEM where the small grid has holes.
    {
      val p = Synth.pasteRef
      val rowOff = Math.rint((Synth.demRef.top - p.top) / p.cellsize).toInt
      val colOff = Math.rint((p.left - Synth.demRef.left) / p.cellsize).toInt
      s"""WITH g AS ($demSql),
         |s AS (SELECT (i // ${p.ncols}) AS r, (i % ${p.ncols}) AS c,
         |  CASE WHEN ((i // ${p.ncols}) * 31 + (i % ${p.ncols})) % 41 = 5 THEN NULL
         |       ELSE (((i // ${p.ncols}) * 13 + (i % ${p.ncols}) * 7) % 400) / 8.0 END AS v
         |  FROM range(${p.nrows.toLong * p.ncols}) t(i)),
         |sp AS (SELECT r + $rowOff AS r, c + $colOff AS c, v FROM s
         |  WHERE c + $colOff < ${Synth.demRef.ncols}
         |    AND r + $rowOff < ${Synth.demRef.nrows})
         |SELECT CAST(g.r AS BIGINT) AS row, CAST(g.c AS BIGINT) AS col,
         |  CASE WHEN sp.r IS NOT NULL AND sp.v IS NOT NULL THEN sp.v
         |       ELSE g.v END AS v
         |FROM g LEFT JOIN sp ON sp.r = g.r AND sp.c = g.c
         |ORDER BY row, col""".stripMargin
    }),

    // Exact squared Euclidean distance transform (Felzenszwalb
    // separable two-pass, all-Long envelope arithmetic): dist2 to the
    // nearest high cell (v >= 240) for EVERY grid cell — integer-exact,
    // so the brute cross-join oracle is hash-perfect
    GatedQuery("r42_distance_transform", (s, _) => {
      import s.implicits._
      val src = TileOps.cells(demTiles(s)).filter($"v" >= 240)
        .select($"row", $"col")
      graft.operators.DistanceTransform.squared(src,
          Synth.demRef.nrows, Synth.demRef.ncols)
        .orderBy($"row", $"col")
    },
    // r42: brute min over the source cross join (exact integers)
    {
      val nc = Synth.demRef.ncols
      val n = Synth.demRef.nrows.toLong * nc
      s"""WITH g AS (SELECT (i // $nc) AS r, (i % $nc) AS c FROM range($n) t(i)),
         |vv AS (SELECT r, c, CASE WHEN (r * $nc + c) % 97 = 13 THEN NULL
         |    ELSE ((r * 31 + c * 17) % 1000) / 4.0 END AS v FROM g),
         |src AS (SELECT r, c FROM vv WHERE v >= 240)
         |SELECT g.r AS row, g.c AS col,
         |  CAST(min((g.r - s.r) * (g.r - s.r) + (g.c - s.c) * (g.c - s.c)) AS BIGINT) AS dist2
         |FROM g CROSS JOIN src s GROUP BY 1, 2 ORDER BY row, col""".stripMargin
    }),

    // Fixed-point focal statistics (5x5 moving window): exact Long
    // windowed (n, sum) per grid position via the separable two-pass
    // strip stack — partitioning-stable where a float focal sum is not.
    // q = 4*v is the DEM's native integer domain, so the brute
    // offset-join oracle is hash-perfect.
    GatedQuery("r43_focal_stats", (s, _) => {
      import s.implicits._
      val vals = TileOps.cells(demTiles(s)).filter($"v".isNotNull)
        .select($"row", $"col", ($"v" * 4).cast("long").as("q"))
      Focal.window(vals, Synth.demRef.nrows, Synth.demRef.ncols, k = 2)
        .orderBy($"row", $"col")
    },
    // r43: brute 5x5 offset join over the valid-cell table (exact
    // integers; q = 4*v = (r*31+c*17) % 1000 is the pre-division value)
    {
      val nc = Synth.demRef.ncols
      val n = Synth.demRef.nrows.toLong * nc
      s"""WITH g AS (SELECT (i // $nc) AS r, (i % $nc) AS c FROM range($n) t(i)),
         |vals AS (SELECT r, c, (r * 31 + c * 17) % 1000 AS q FROM g
         |  WHERE NOT ((r * $nc + c) % 97 = 13))
         |SELECT g.r AS row, g.c AS col,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(v.q) AS BIGINT) AS sum_q
         |FROM g JOIN vals v
         |  ON v.r BETWEEN g.r - 2 AND g.r + 2
         | AND v.c BETWEEN g.c - 2 AND g.c + 2
         |GROUP BY 1, 2 ORDER BY row, col""".stripMargin
    }),

    // Morphological erosion + dilation (7x7 focal min/max): separable
    // monotone-deque sliding extrema — O(1)/cell amortized, exact Longs,
    // so the brute offset-join oracle is hash-perfect
    GatedQuery("r44_focal_extrema", (s, _) => {
      import s.implicits._
      val vals = TileOps.cells(demTiles(s)).filter($"v".isNotNull)
        .select($"row", $"col", ($"v" * 4).cast("long").as("q"))
      Focal.extrema(vals, Synth.demRef.nrows, Synth.demRef.ncols, k = 3)
        .orderBy($"row", $"col")
    },
    // r44: brute 7x7 offset join, min/max over valid neighbors
    {
      val nc = Synth.demRef.ncols
      val n = Synth.demRef.nrows.toLong * nc
      s"""WITH g AS (SELECT (i // $nc) AS r, (i % $nc) AS c FROM range($n) t(i)),
         |vals AS (SELECT r, c, (r * 31 + c * 17) % 1000 AS q FROM g
         |  WHERE NOT ((r * $nc + c) % 97 = 13))
         |SELECT g.r AS row, g.c AS col,
         |  CAST(min(v.q) AS BIGINT) AS min_q,
         |  CAST(max(v.q) AS BIGINT) AS max_q
         |FROM g JOIN vals v
         |  ON v.r BETWEEN g.r - 3 AND g.r + 3
         | AND v.c BETWEEN g.c - 3 AND g.c + 3
         |GROUP BY 1, 2 ORDER BY row, col""".stripMargin
    }),

    // Overview pyramid (COG-style): 3 levels of 2x2 block aggregation,
    // level L built incrementally from L-1 — one base scan, each level's
    // shuffle 1/4 the previous. Exact Long (n, sum_q) keeps every level
    // order-free; fully declarative groupBy/sum (whole-stage codegen).
    GatedQuery("r46_pyramid", (s, _) => {
      import s.implicits._
      val vals = TileOps.cells(demTiles(s)).filter($"v".isNotNull)
        .select($"row", $"col", ($"v" * 4).cast("long").as("q"))
      graft.operators.Pyramid.build(vals, levels = 3)
        .orderBy($"level", $"row", $"col")
    },
    // r46: per-level block aggregation of the base grid — equal to the
    // engine's incremental level chain because Long sums are associative
    {
      val nc = Synth.demRef.ncols
      val n = Synth.demRef.nrows.toLong * nc
      val lvls = (1 to 3).map { l =>
        s"""SELECT CAST($l AS BIGINT) AS level,
           |  r // ${1 << l} AS row, c // ${1 << l} AS col,
           |  CAST(count(*) AS BIGINT) AS n, CAST(sum(q) AS BIGINT) AS sum_q
           |FROM vals GROUP BY 2, 3""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH g AS (SELECT (i // $nc) AS r, (i % $nc) AS c FROM range($n) t(i)),
         |vals AS (SELECT r, c, (r * 31 + c * 17) % 1000 AS q FROM g
         |  WHERE NOT ((r * $nc + c) % 97 = 13))
         |$lvls
         |ORDER BY level, row, col""".stripMargin
    }),

    // Focal median despeckle (5x5): row-band replication shuffle + exact
    // Long window sort; SQL median semantics for even counts, so the
    // offset-join median oracle hashes bit-for-bit.
    GatedQuery("r47_focal_median", (s, _) => {
      import s.implicits._
      val vals = TileOps.cells(demTiles(s)).filter($"v".isNotNull)
        .select($"row", $"col", ($"v" * 4).cast("long").as("q"))
      Focal.median(vals, Synth.demRef.nrows, Synth.demRef.ncols, k = 2)
        .orderBy($"row", $"col")
    },
    // r47: brute 5x5 offset join + SQL median over exact integers
    {
      val nc = Synth.demRef.ncols
      val n = Synth.demRef.nrows.toLong * nc
      s"""WITH g AS (SELECT (i // $nc) AS r, (i % $nc) AS c FROM range($n) t(i)),
         |vals AS (SELECT r, c, (r * 31 + c * 17) % 1000 AS q FROM g
         |  WHERE NOT ((r * $nc + c) % 97 = 13))
         |SELECT g.r AS row, g.c AS col, median(v.q) AS med_q
         |FROM g JOIN vals v
         |  ON v.r BETWEEN g.r - 2 AND g.r + 2
         | AND v.c BETWEEN g.c - 2 AND g.c + 2
         |GROUP BY 1, 2 ORDER BY row, col""".stripMargin
    }),

    // Band math over the zip join (the NDVI-style normalized difference
    // (a-b)/(a+b)): per-pixel arithmetic on the 1:1 cell equi-join — one
    // codegen span after the join; each division is a single IEEE op on
    // identical dyadic operands in both engines, so it hashes. Zero
    // denominators (a+b = 0 happens only at a = b = 0) map to null, like
    // SQL's NULLIF guard.
    GatedQuery("r48_normdiff", (s, _) => {
      import s.implicits._
      val a = TileOps.cells(TileOps.tileGrid(s, Synth.gridARef, tileRes)(Synth.gridAValue))
      val b = TileOps.cells(TileOps.tileGrid(s, Synth.gridARef, tileRes)(Synth.gridBValue))
        .withColumnRenamed("v", "u")
      a.join(b, Seq("row", "col"))
        .filter($"v".isNotNull && $"u".isNotNull)
        .select($"row", $"col",
          when($"v" + $"u" =!= 0.0, ($"v" - $"u") / ($"v" + $"u")).as("nd"))
        .filter(($"row" * lit(Synth.gridARef.ncols) + $"col") % 7 === 2)
        .orderBy($"row", $"col")
    },
    // r48: the same normalized difference in SQL — identical dyadic
    // operands, one correctly-rounded division, NULLIF zero guard
    {
      val a = Synth.gridARef
      s"""WITH g AS (SELECT (i // ${a.ncols}) AS r, (i % ${a.ncols}) AS c FROM range(${a.nrows.toLong * a.ncols}) t(i)),
         |vals AS (SELECT r, c,
         |  CASE WHEN (r * ${a.ncols} + c) % 89 = 7 THEN NULL
         |       ELSE ((r * 13 + c * 7) % 100) / 4.0 END AS v,
         |  CASE WHEN (r * ${Synth.gridBRef.ncols} + c) % 71 = 3 THEN NULL
         |       ELSE ((r * 5 + c * 3) % 80) / 4.0 END AS u
         |  FROM g)
         |SELECT CAST(r AS BIGINT) AS row, CAST(c AS BIGINT) AS col,
         |  (v - u) / NULLIF(v + u, 0.0) AS nd
         |FROM vals
         |WHERE v IS NOT NULL AND u IS NOT NULL AND (r * ${a.ncols} + c) % 7 = 2
         |ORDER BY row, col""".stripMargin
    }),

    // Kernel-density heatmap (quartic/biweight, radius 8): scaled-integer
    // kernel (R^2-d^2)^2 scattered via a broadcast offset disk + ONE hash
    // agg — exact Longs, so the offset-join oracle hash-matches. Points
    // are the q % 61 == 7 subset of the DEM's valid cells (~1.6%).
    GatedQuery("r49_kde", (s, _) => {
      import s.implicits._
      val pts = TileOps.cells(demTiles(s)).filter($"v".isNotNull)
        .filter((($"v" * 4).cast("long") % 61) === 7)
        .select($"row", $"col")
      graft.operators.Density.quartic(pts, Synth.demRef.nrows,
          Synth.demRef.ncols, radius = 8)
        .orderBy($"row", $"col")
    },
    // r49: the same quartic scatter as a distance-bounded offset join
    {
      val nc = Synth.demRef.ncols
      val n = Synth.demRef.nrows.toLong * nc
      s"""WITH g AS (SELECT (i // $nc) AS r, (i % $nc) AS c FROM range($n) t(i)),
         |vals AS (SELECT r, c, (r * 31 + c * 17) % 1000 AS q FROM g
         |  WHERE NOT ((r * $nc + c) % 97 = 13)),
         |pts AS (SELECT r, c FROM vals WHERE q % 61 = 7)
         |SELECT g.r AS row, g.c AS col,
         |  CAST(count(*) AS BIGINT) AS n_pts,
         |  CAST(sum((64 - ((g.r - p.r) * (g.r - p.r) + (g.c - p.c) * (g.c - p.c)))
         |         * (64 - ((g.r - p.r) * (g.r - p.r) + (g.c - p.c) * (g.c - p.c)))) AS BIGINT) AS density
         |FROM g JOIN pts p
         |  ON (g.r - p.r) * (g.r - p.r) + (g.c - p.c) * (g.c - p.c) <= 64
         | AND p.r BETWEEN g.r - 8 AND g.r + 8
         | AND p.c BETWEEN g.c - 8 AND g.c + 8
         |GROUP BY 1, 2 ORDER BY row, col""".stripMargin
    }),

    // Cross-section profile extraction (the reference's polyline-z
    // domain, Raster.py line tooling + hydro river sections): walk the
    // r7-proven line2sub cell chain over the DEM, attach elevations
    // (LEFT join keeps NODATA holes as null), and carry EXACT chainage as
    // (ncard, ndiag) running step counts — the r26/r28 integer-distance
    // convention; chainage = (ncard + ndiag*sqrt(2)) * cellsize at
    // presentation time. One window over (line_id, seq) + one cell join.
    GatedQuery("r50_xsection", (s, _) => {
      import s.implicits._
      val (xs, ys) = Synth.demLine
      val lines = s.createDataset(Seq(Line2Sub.LineRec(0L, xs, ys)))
      val walk = Line2Sub.cells(lines, Synth.demRef)
      val w = Window.partitionBy($"line_id").orderBy($"seq")
      val steps = walk
        .withColumn("pr", lag($"row", 1).over(w))
        .withColumn("pc", lag($"col", 1).over(w))
        .withColumn("sd", when($"pr".isNull, 0L)
          .when($"row" =!= $"pr" && $"col" =!= $"pc", 1L).otherwise(0L))
        .withColumn("sc", when($"pr".isNull, 0L).otherwise(lit(1L) - $"sd"))
        .withColumn("ncard", sum($"sc").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("ndiag", sum($"sd").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      steps
        .join(TileOps.cells(demTiles(s)), Seq("row", "col"), "left")
        .select($"line_id", $"seq", $"row", $"col", $"v", $"ncard", $"ndiag")
        .orderBy($"seq")
    },
    // r50: the r7-proven closed-form walk + dem values + running step
    // counts (diagonal iff both coordinates change)
    {
      val nc = Synth.demRef.ncols
      s"""WITH walk AS (
         |  SELECT CAST(0 AS BIGINT) AS line_id, j AS seq, 50 - j AS r, 10 AS c FROM range(10) t(j)
         |  UNION ALL SELECT 0, j + 10, 40 - j, 10 + j FROM range(10) t(j)
         |  UNION ALL SELECT 0, j + 20, 30, 20 + j FROM range(40) t(j)),
         |st AS (
         |  SELECT line_id, seq, r, c,
         |    lag(r) OVER (PARTITION BY line_id ORDER BY seq) AS pr,
         |    lag(c) OVER (PARTITION BY line_id ORDER BY seq) AS pc
         |  FROM walk),
         |sd AS (
         |  SELECT line_id, seq, r, c,
         |    CASE WHEN pr IS NULL THEN 0
         |         WHEN r <> pr AND c <> pc THEN 1 ELSE 0 END AS is_d,
         |    CASE WHEN pr IS NULL THEN 0
         |         WHEN r <> pr AND c <> pc THEN 0 ELSE 1 END AS is_c
         |  FROM st)
         |SELECT line_id, seq, CAST(r AS BIGINT) AS row, CAST(c AS BIGINT) AS col,
         |  CASE WHEN (r * $nc + c) % 97 = 13 THEN NULL
         |       ELSE ((r * 31 + c * 17) % 1000) / 4.0 END AS v,
         |  CAST(sum(is_c) OVER (PARTITION BY line_id ORDER BY seq
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ncard,
         |  CAST(sum(is_d) OVER (PARTITION BY line_id ORDER BY seq
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ndiag
         |FROM sd ORDER BY seq""".stripMargin
    }),

    // Focal majority (5x5 mode filter) over the r13 classification —
    // the categorical Expand/Nibble primitive. Separable in COUNT space
    // (per-class sums), ties to the smallest class; exact Long counts,
    // so the offset-join + argmax oracle hash-matches.
    GatedQuery("r52_focal_majority", (s, _) => {
      import s.implicits._
      val classed = TileOps.cells(
          TileFns.classify(demTiles(s), Array(50.0, 100.0, 150.0, 200.0)))
        .filter($"v".isNotNull)
        .select($"row", $"col", ($"v" - 1).cast("int").as("cls"))
      Focal.majority(classed, Synth.demRef.nrows, Synth.demRef.ncols,
          k = 2, nClasses = 4)
        .select($"row", $"col", ($"mode_cls" + 1).as("mode_class"), $"n_mode")
        .orderBy($"row", $"col")
    },
    // r52: offset join over the classed cells + per-class counts + the
    // (n DESC, cls ASC) argmax — the engine's exact tie-break replicated
    {
      val nc = Synth.demRef.ncols
      val n = Synth.demRef.nrows.toLong * nc
      s"""WITH g AS (SELECT (i // $nc) AS r, (i % $nc) AS c FROM range($n) t(i)),
         |vv AS (SELECT r, c, CASE WHEN (r * $nc + c) % 97 = 13 THEN NULL
         |    ELSE ((r * 31 + c * 17) % 1000) / 4.0 END AS v FROM g),
         |cls AS (SELECT r, c, CASE WHEN v < 100 THEN 1 WHEN v < 150 THEN 2
         |    WHEN v < 200 THEN 3 ELSE 4 END AS cl
         |  FROM vv WHERE v IS NOT NULL AND v >= 50),
         |win AS (
         |  SELECT g.r AS row, g.c AS col, x.cl, count(*) AS n
         |  FROM g JOIN cls x
         |    ON x.r BETWEEN g.r - 2 AND g.r + 2
         |   AND x.c BETWEEN g.c - 2 AND g.c + 2
         |  GROUP BY 1, 2, 3),
         |best AS (SELECT row, col, cl, n,
         |  row_number() OVER (PARTITION BY row, col ORDER BY n DESC, cl ASC) AS rn
         |  FROM win)
         |SELECT row, col, CAST(cl AS BIGINT) AS mode_class,
         |  CAST(n AS BIGINT) AS n_mode
         |FROM best WHERE rn = 1 ORDER BY row, col""".stripMargin
    }),

    // The reference's flagship tutorial pipeline end-to-end
    // (demo/tutorial_edit_DEM.ipynb cells 4-12) as ONE gated query:
    // rect_clip(extent) -> rasterize(features, attribute burn) ->
    // arithmetic edit `dem - 2*burn` under the burn mask -> band
    // aggregates of original vs edited surface + edit counts. Every
    // value is exact dyadic (quarter-unit DEM, integer attrs), so band
    // sums are order-free and the composite hash-gates. Plan shape:
    // pruned clip scan + broadcast burn join + one hash agg — the
    // "edit DEM by features" job a reference user runs today, in tile
    // form end to end.
    GatedQuery("r54_edit_dem", (s, _) => {
      import s.implicits._
      val (clipped, (r0, _, _, _)) =
        TileOps.rectClip(demTiles(s), Synth.demRef, Synth.tutorialClip, tileRes)
      val burned = Rasterize(s, Synth.ca1Features, Synth.demRef, tileRes,
        useAttr = true)
      Rasterize.editJoin(TileOps.cells(clipped), burned)
        .select($"row", $"col", $"v",
          when($"burn".isNotNull, $"v" - $"burn" * 2.0).otherwise($"v")
            .as("v_edit"),
          ($"v".isNotNull && $"burn".isNotNull).as("edited"))
        .withColumn("band", floor(($"row" - lit(r0)) / 16).cast("long"))
        .groupBy($"band")
        .agg(count(lit(1)).as("n_cells"), sum($"v").as("sum_v"),
          sum($"v_edit").as("sum_edit"),
          count(when($"edited", 1)).as("n_edited"))
        .orderBy($"band")
    },
    // r54: the r2 clip window x the r4 burn CASE, composed with the
    // tutorial's edit rule (dem - 2*burn under the mask); quarter-unit
    // dyadic values make the band sums exact in any order
    {
      val ref = Synth.demRef
      val (r0, r1, c0, c1) = ref.clipWindow(Synth.tutorialClip)
      val cases = Synth.ca1Features.sortBy(-_.seq).map { f =>
        s"WHEN ${pipSql(f.xs, f.ys)} THEN ${f.attr}"
      }.mkString(" ")
      s"""WITH g AS ($demSql),
         |w AS (SELECT r, c, v,
         |  ${ref.left} + (c + 0.5) * ${ref.cellsize} AS px,
         |  ${ref.top} - (r + 0.5) * ${ref.cellsize} AS py
         |  FROM g WHERE r BETWEEN $r0 AND $r1 AND c BETWEEN $c0 AND $c1),
         |e AS (SELECT r, c, v, CASE $cases END AS burn FROM w)
         |SELECT CAST((r - $r0) // 16 AS BIGINT) AS band,
         |  CAST(count(*) AS BIGINT) AS n_cells,
         |  sum(v) AS sum_v,
         |  sum(CASE WHEN burn IS NOT NULL THEN v - burn * 2.0 ELSE v END) AS sum_edit,
         |  CAST(count(CASE WHEN v IS NOT NULL AND burn IS NOT NULL THEN 1 END) AS BIGINT) AS n_edited
         |FROM e GROUP BY 1 ORDER BY 1""".stripMargin
    }),

    // Hypsometric histogram (elevation-band areas + cumulative
    // area-above-elevation — the hypsometric-curve prep of terrain
    // analysis): exact integer counts per 25 m band over the DEM, one
    // partial/final hash agg; the cumulative window runs over the 10
    // band rows only. Band edges (k*25) divide the quarter-step fixture
    // values exactly, so floor(v/25) is engine-identical.
    GatedQuery("r55_hypsometry", (s, _) => {
      import s.implicits._
      val dem = TileOps.tileGrid(s, Synth.demRef, tileRes)(Synth.demValue)
      val hist = TileOps.cells(dem).filter($"v".isNotNull && !isnan($"v"))
        .withColumn("bucket", floor($"v" / 25.0).cast("long"))
        .groupBy($"bucket").agg(count(lit(1)).as("n"))
      val w = Window.orderBy($"bucket".desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist.withColumn("n_at_or_above", sum($"n").over(w))
        .select($"bucket", $"n", $"n_at_or_above")
        .orderBy($"bucket")
    },
      // r55: the same 25 m banding + reverse-cumulative window
      s"""WITH g AS ($demSql),
         |h AS (SELECT CAST(floor(v / 25.0) AS BIGINT) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n
         |  FROM g WHERE v IS NOT NULL GROUP BY 1)
         |SELECT bucket, n,
         |  CAST(sum(n) OVER (ORDER BY bucket DESC) AS BIGINT) AS n_at_or_above
         |FROM h ORDER BY bucket""".stripMargin),

    // XYZ slippy-map TILE PYRAMID export — the raster-serving op: levels
    // z=0..3 (fixed 64px tiles; average-downsample by 2^z via the real
    // window-agg operator, reassembled through tilesFromCells), each tile
    // rendered to a REAL PNG by renderPng, decoded back in-task and
    // reduced to integer code sums. The fixture's integer values with
    // lo=0/hi=1000 make every level's codes exact integers (64*s/4^z
    // with 4^z <= 64), so DuckDB regenerates every tile's checksum from
    // the closed form — render + encode + decode round-trip included.
    // z=3's single 32x32 tile exercises the partial-tile edge.
    GatedQuery("r56_xyz_tiles", (s, _) => {
      import s.implicits._
      val ref = GridRef(256, 256, 0.0, 0.0, 1.0, -9999.0, "")
      val dem = TileOps.tileGrid(s, ref, 6)(
        (r, c) => ((r * 31 + c * 17) % 1000).toDouble)
      // the gate drives the SHIPPED facade method (progressive fold,
      // render, PNG encode), then decodes each tile back for checksums
      graft.Raster(dem, ref, 6).tilePyramidPng(levels = 4, 0.0, 1000.0)
        .as[(Long, Long, Long, Array[Byte])]
        .map { case (z, x, y, png) =>
          val (px, w, h) = graft.codecs.ImageCodec.decode(png, "png")
          var sum = 0L; var j = 0
          while (j < px.length) { sum += Math.rint(px(j) * 64.0).toLong; j += 1 }
          (z, x, y, w, h, sum)
        }
        .toDF("z", "x", "y", "w", "h", "sum_code")
        .orderBy($"z", $"y", $"x")
    },
      // r56: per-level block sums from the closed form; tile code sum =
      // sum over blocks of 64*s/4^z (integer since 4^z <= 64)
      """WITH px AS (
        |  SELECT r.r AS r, c.c AS c, (r.r*31 + c.c*17) % 1000 AS v
        |  FROM range(256) r(r), range(256) c(c)),
        |lv AS (
        |  SELECT z.z AS z, r // (1 << z.z) AS br, c // (1 << z.z) AS bc,
        |    sum(v) AS s
        |  FROM px, range(4) z(z)
        |  GROUP BY 1, 2, 3),
        |tl AS (
        |  SELECT z, bc // 64 AS x, br // 64 AS y,
        |    sum(s * (64 // (1 << (2*z)))) AS sum_code
        |  FROM lv GROUP BY 1, 2, 3)
        |SELECT CAST(z AS BIGINT) AS z, CAST(x AS BIGINT) AS x,
        |  CAST(y AS BIGINT) AS y,
        |  CAST(least(64, (256 // (1 << z)) - x * 64) AS INT) AS w,
        |  CAST(least(64, (256 // (1 << z)) - y * 64) AS INT) AS h,
        |  CAST(sum_code AS BIGINT) AS sum_code
        |FROM tl ORDER BY z, y, x""".stripMargin),

    // Composed bankline -> bathymetry (the reference's documented river
    // module, docs/source/Modules/index.rst:4-15): cross-section lines
    // with endpoint depths -> stations along each line's Line2Sub walk ->
    // distributed Delaunay-linear surface -> bankline polygon clip. The
    // oracle rides the same linear-precision trick as r20: station depths
    // lie on the dyadic plane 4 + x/4 + y/2 (z interpolates linearly
    // ALONG each straight line, so every station is plane-exact), Delaunay
    // linear interpolation reproduces the plane, and the clip polygon's
    // edges have parity-mixed reduced directions so no pixel center can
    // lie exactly on an edge. Values are multiples of 1/16 -> vq lattice
    // exact (FIXTURES.md §9).
    GatedQuery("r57_line2surface", (s, _) => {
      import s.implicits._
      val lines = s.createDataset((0 until 20).map { j =>
        val x = -4.0 + 3.0 * j
        graft.operators.LineSurface.CrossLine(j.toLong,
          Array(x, x), Array(29.0, 1.0),
          z0 = 4.0 + 0.25 * x + 0.5 * 29.0,
          z1 = 4.0 + 0.25 * x + 0.5 * 1.0)
      })
      val bank = Seq(Feature(0, "polygon",
        Array(0.0, 48.0, 50.0, 1.0, 0.0),
        Array(3.0, 5.0, 29.0, 25.0, 3.0), attr = 1.0, seq = 0))
      val tiles = graft.operators.LineSurface.bathymetry(
        s, lines, bank, Synth.knnRef, res = 5)
      TileOps.cells(tiles).filter($"v".isNotNull)
        .select($"row".cast("long").as("row"), $"col".cast("long").as("col"),
          expr("CAST(round(v * 10000) AS BIGINT)").as("vq"))
        .orderBy($"row", $"col")
    },
    // r57: the composed surface by linear precision — stations sit on the
    // plane 4 + x/4 + y/2, Delaunay reproduces it, and the oracle is the
    // plane at every pixel center inside the bankline polygon (the same
    // ray-cast PIP expression ClipPolygon's kernel evaluates)
    {
      val pip = pipSql(Array(0.0, 48.0, 50.0, 1.0, 0.0),
        Array(3.0, 5.0, 29.0, 25.0, 3.0))
      s"""WITH g AS (SELECT (i // 120) AS r, (i % 120) AS c,
         |  -5 + ((i % 120) + 0.5) * 0.5 AS px,
         |  30 - ((i // 120) + 0.5) * 0.5 AS py
         |  FROM range(7200) t(i))
         |SELECT CAST(r AS BIGINT) AS row, CAST(c AS BIGINT) AS col,
         |  CAST(round((4.0 + 0.25 * px + 0.5 * py) * 10000) AS BIGINT) AS vq
         |FROM g WHERE $pip ORDER BY row, col""".stripMargin
    }),

    // Distributed cell-cover compaction (the H3 compact / S2 cell-union
    // normalize): a res-0 rectangle cover folds to the minimal mixed-res
    // cover by repeated replace-4-siblings-by-parent, entirely as 64-bit
    // id arithmetic (parent z = z >> 2) — one groupBy-parent shuffle per
    // level, data shrinking 4x per round. The 14 x 11 window is chosen so
    // every level participates: full 2x2 blocks merge to res 1, those to
    // res 2, one block reaches res 3, and each level leaves a ragged
    // remainder. Output decoded to (r, x, y); the oracle replays the
    // sibling-merge rounds as chained HAVING count(*)=4 CTEs.
    GatedQuery("r58_cell_compact", (s, _) => {
      import s.implicits._
      val cells = s.range(14).toDF("x").crossJoin(s.range(11).toDF("y"))
        .as[(Long, Long)]
        .map { case (x, y) => graft.core.CellId.encode(0, x, y) }
        .toDF("cell")
      graft.operators.CellOps.compactCells(cells, "cell")
        .as[Long]
        .map(id => (graft.core.CellId.res(id).toLong,
          graft.core.CellId.cx(id), graft.core.CellId.cy(id)))
        .toDF("r", "x", "y")
        .orderBy($"r", $"x", $"y")
    },
      // r58: replay the sibling-merge rounds level by level — a parent
      // exists iff its 4 children all survive the previous level; three
      // rounds exhaust this fixture (the res-3 survivor is a singleton)
      """WITH l0 AS (SELECT CAST(0 AS BIGINT) AS r, x.x AS x, y.y AS y
        |  FROM range(14) x(x), range(11) y(y)),
        |m1 AS (SELECT x // 2 AS x, y // 2 AS y FROM l0
        |  GROUP BY 1, 2 HAVING count(*) = 4),
        |rem0 AS (SELECT l0.r, l0.x, l0.y FROM l0 LEFT JOIN m1
        |  ON m1.x = l0.x // 2 AND m1.y = l0.y // 2 WHERE m1.x IS NULL),
        |l1 AS (SELECT CAST(1 AS BIGINT) AS r, x, y FROM m1),
        |m2 AS (SELECT x // 2 AS x, y // 2 AS y FROM l1
        |  GROUP BY 1, 2 HAVING count(*) = 4),
        |rem1 AS (SELECT l1.r, l1.x, l1.y FROM l1 LEFT JOIN m2
        |  ON m2.x = l1.x // 2 AND m2.y = l1.y // 2 WHERE m2.x IS NULL),
        |l2 AS (SELECT CAST(2 AS BIGINT) AS r, x, y FROM m2),
        |m3 AS (SELECT x // 2 AS x, y // 2 AS y FROM l2
        |  GROUP BY 1, 2 HAVING count(*) = 4),
        |rem2 AS (SELECT l2.r, l2.x, l2.y FROM l2 LEFT JOIN m3
        |  ON m3.x = l2.x // 2 AND m3.y = l2.y // 2 WHERE m3.x IS NULL),
        |l3 AS (SELECT CAST(3 AS BIGINT) AS r, x, y FROM m3)
        |SELECT r, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y FROM (
        |  SELECT * FROM rem0 UNION ALL SELECT * FROM rem1
        |  UNION ALL SELECT * FROM rem2 UNION ALL SELECT * FROM l3)
        |ORDER BY r, x, y""".stripMargin),

    // SPATIAL AUTOCORRELATION (global Moran's I + Geary's C) — the
    // terrain-QA statistic that says whether a surface is spatially
    // structured or noise. Scale-invariant in the cell values, so it
    // runs on the integer codes q = 4*v, and the query emits the exact
    // integer SUFFICIENT STATISTICS (n, S, Σq², W, Σq_iq_j, Σdeg·q,
    // Σdeg·q²) instead of the assembled float ratio: both engines gate
    // bit-exact Longs, and I = A/(W·B), C = n(n−1)G/(2W·B) with
    // A = n²Σq_iq_j − 2nS·Σdeg·q + WS², B = n·Σq² − S², G = 2Σdeg·q² −
    // 2Σq_iq_j assemble driver-side in BigDecimal (OperatorSpec proves
    // the algebra against brute force; the raw A overflows Int64 at
    // this n by design — the decomposition is WHY the distributed job
    // only ever sums small integers). Plan: rook pairs as ONE equi-join
    // against its 4 shifted copies — join key (row, col) is uniform, no
    // skew, no windows; holds at any raster size.
    GatedQuery("r59_spatial_autocorr", (s, _) => {
      import s.implicits._
      val cells = TileOps.cells(demTiles(s))
        .filter($"v".isNotNull)
        .select($"row", $"col", ($"v" * 4).cast("long").as("q"))
      val base = cells.agg(count(lit(1)).as("n"), sum($"q").as("s_sum"),
        sum($"q" * $"q").as("q2"))
      val shifted = Seq((0, 1), (0, -1), (1, 0), (-1, 0)).map {
        case (dr, dc) =>
          cells.select(($"row" + dr).as("row"), ($"col" + dc).as("col"),
            $"q".as("qn"))
      }.reduce(_ unionByName _)
      val pairAgg = cells.join(shifted, Seq("row", "col"))
        .agg(count(lit(1)).as("w_pairs"), sum($"q" * $"qn").as("pair_prod"),
          sum($"q").as("deg_val"), sum($"q" * $"q").as("deg_val_sq"))
      base.crossJoin(pairAgg)
        .select($"n", $"s_sum", $"q2", $"w_pairs", $"pair_prod",
          $"deg_val", $"deg_val_sq")
    },
      // r59: valid cells from the DEM formula, rook pairs as 4 explicit
      // shifted equi-joins (hash joins — the abs-distance form would be a
      // 31k x 31k nested loop), same seven integer sufficient statistics
      """WITH cells AS (
        |  SELECT r.r AS row, c.c AS col, (r.r * 31 + c.c * 17) % 1000 AS q
        |  FROM range(203) r(r), range(154) c(c)
        |  WHERE (r.r * 154 + c.c) % 97 != 13),
        |base AS (SELECT count(*) AS n, sum(q) AS s_sum,
        |    sum(q * q) AS q2 FROM cells),
        |prs AS (
        |  SELECT a.q AS q, b.q AS qn FROM cells a JOIN cells b
        |    ON b.row = a.row AND b.col = a.col + 1
        |  UNION ALL SELECT a.q, b.q FROM cells a JOIN cells b
        |    ON b.row = a.row AND b.col = a.col - 1
        |  UNION ALL SELECT a.q, b.q FROM cells a JOIN cells b
        |    ON b.row = a.row + 1 AND b.col = a.col
        |  UNION ALL SELECT a.q, b.q FROM cells a JOIN cells b
        |    ON b.row = a.row - 1 AND b.col = a.col),
        |pa AS (SELECT count(*) AS w_pairs, sum(q * qn) AS pair_prod,
        |    sum(q) AS deg_val, sum(q * q) AS deg_val_sq FROM prs)
        |SELECT CAST(n AS BIGINT) AS n, CAST(s_sum AS BIGINT) AS s_sum,
        |  CAST(q2 AS BIGINT) AS q2, CAST(w_pairs AS BIGINT) AS w_pairs,
        |  CAST(pair_prod AS BIGINT) AS pair_prod,
        |  CAST(deg_val AS BIGINT) AS deg_val,
        |  CAST(deg_val_sq AS BIGINT) AS deg_val_sq
        |FROM base, pa""".stripMargin),

    // REMOVE_BLOCK — the reference's documented-but-absent overhead-
    // block-removal module (docs/source/Modules/index.rst:4-15, README
    // features 3-4: strip bridges/overhead structures from a DEM and
    // repair the footprint from the surrounding terrain), composed from
    // three gated pieces: the r4 PIP rasterize marks the block
    // footprint, the footprint cells drop, and each repairs from its
    // NEAREST surviving valid cell via the r5 bucketed ring-search
    // kernel (deterministic (d2, pid) tie-break; d2 is exact — all
    // coordinates dyadic multiples of 2.5, so squares and sums carry no
    // rounding). Band aggregates gate the whole repaired surface.
    GatedQuery("r60_remove_block", (s, _) => Owned { own =>
      import s.implicits._
      val ref = Synth.demRef
      // footprint mask from the r4 PIP burn (the burn VALUE is not
      // needed — only membership)
      val mask = Rasterize(s, Synth.ca1Features, ref, tileRes,
          useAttr = false)
        .toDF("row", "col", "burn")
        .select($"row", $"col", lit(true).as("m"))
      // reused: the mask join + DEM scan feed BOTH the repair kernel's
      // point/hole sides and the final stitch — without it the burn job
      // and the icelite scan would run twice
      val masked = own.reuse(TileOps.cells(demTiles(s))
        .join(mask, Seq("row", "col"), "left"))
      val pts = masked.filter($"m".isNull && $"v".isNotNull)
        .select(($"row".cast("long") * ref.ncols + $"col").as("pid"),
          (lit(ref.left) + ($"col" + 0.5) * ref.cellsize).as("x"),
          (lit(ref.top) - ($"row" + 0.5) * ref.cellsize).as("y"),
          $"v")
        .as[PtRec]
      // repair ONLY the footprint cells (targets subset): kernel cost
      // scales with the block area, not the grid area
      val holes = masked.filter($"m".isNotNull).select($"row", $"col")
      val filled = Knn.nearestBucketed(s, pts, ref, res = 5, ringK = 1,
          targets = Some(holes))
        .select($"row".cast("long").as("row"), $"col".cast("long").as("col"),
          $"v".as("fv"))
      masked.join(filled, Seq("row", "col"), "left")
        .select($"row",
          when($"m".isNotNull, $"fv").otherwise($"v").as("rv"),
          $"m".isNotNull.as("was_block"))
        .withColumn("band", floor($"row" / 16).cast("long"))
        .groupBy($"band")
        .agg(count(when($"was_block", 1)).as("n_filled"),
          count($"rv").as("n_valid"),
          sum(($"rv" * 4).cast("long")).as("sum_vq"))
        .orderBy($"band")
        .localCheckpoint(true)
    },
    // r60: PIP footprint + brute nearest over all surviving valid cells
    // (rank-1 by the same exact (d2, pid) key the bucketed kernel
    // proves) + band aggregates of the repaired surface
    {
      val ref = Synth.demRef
      val insides = Synth.ca1Features.map(f => pipSql(f.xs, f.ys)).mkString(" OR ")
      s"""WITH g AS ($demSql),
         |w AS (SELECT r, c, v,
         |  ${ref.left} + (c + 0.5) * ${ref.cellsize} AS px,
         |  ${ref.top} - (r + 0.5) * ${ref.cellsize} AS py
         |  FROM g),
         |m AS (SELECT r, c, v, px, py, ($insides) AS blocked FROM w),
         |pts AS (SELECT r * ${ref.ncols} + c AS pid, px, py, v FROM m
         |  WHERE NOT blocked AND v IS NOT NULL),
         |holes AS (SELECT r, c, px, py FROM m WHERE blocked),
         |cand AS (SELECT h.r AS r, h.c AS c, p.v AS v,
         |    row_number() OVER (PARTITION BY h.r, h.c ORDER BY
         |      (p.px - h.px) * (p.px - h.px) + (p.py - h.py) * (p.py - h.py),
         |      p.pid) AS rn
         |  FROM holes h, pts p),
         |fill AS (SELECT r, c, v FROM cand WHERE rn = 1),
         |rep AS (SELECT m.r, m.c, m.blocked,
         |    CASE WHEN m.blocked THEN f.v ELSE m.v END AS rv
         |  FROM m LEFT JOIN fill f ON f.r = m.r AND f.c = m.c)
         |SELECT CAST(r // 16 AS BIGINT) AS band,
         |  CAST(count(CASE WHEN blocked THEN 1 END) AS BIGINT) AS n_filled,
         |  CAST(count(rv) AS BIGINT) AS n_valid,
         |  CAST(sum(CAST(rv * 4 AS BIGINT)) AS BIGINT) AS sum_vq
         |FROM rep GROUP BY 1 ORDER BY 1""".stripMargin
    }),

    // r61: distributed SUMMED-AREA TABLE + O(1) arbitrary-radius box
    // stats. One global 2-D prefix sum (per-tile marginals -> three
    // narrow grouped prefix scans -> one equi-join home; payloads never
    // shuffle), then radius-20 box sums at a stride-16 probe lattice —
    // including border probes whose clamped windows exercise the signed
    // 4-corner formula's edge cases. The multi-scale sibling of the
    // r43/r44 focal family: window cost is 4 lookups at ANY radius.
    GatedQuery("r61_sat_boxstats", (s, _) => {
      import s.implicits._
      val ref = GridRef(ncols = 768, nrows = 512, xll = 0, yll = 0,
        cellsize = 1, nodata = -9999)
      val tiles = TileOps.tileGrid(s, ref, tileRes)((r, c) =>
        ((r * 7 + c * 3) % 100).toDouble)
      val sat = graft.operators.Sat.satTiles(tiles)
      val pts = s.range(32L * 48).map(i =>
        ((i / 48).toInt * 16, (i % 48).toInt * 16)).toDF("qr", "qc")
      graft.operators.Sat.boxSumAt(sat, ref, tileRes, pts, k = 20)
        .select($"qr".cast("long").as("qr"), $"qc".cast("long").as("qc"),
          $"box_n", $"box_sum".cast("long").as("box_sum"))
        .orderBy($"qr", $"qc")
    },
      // q18: both snapshots in closed form — snap 1 is the 96x160 formula
      // grid in 6 tiles; snap 2 adds +1000 to every cell of the even-tx
      // tiles (cols [0,64) and [128,160)), one 2x2 appended tile (+4
      // cells, payload 1+2+3+4 = 10), and one extra tile row
      // r61: the SAT's box sums replayed as a direct windowed join over
      // the synthetic cell formula — clamping falls out of the BETWEEN
      // bounds intersecting the finite ranges
      """WITH cells AS (
        |  SELECT r.r AS r, c.c AS c,
        |    CAST((r.r * 7 + c.c * 3) % 100 AS BIGINT) AS v
        |  FROM range(512) r(r), range(768) c(c)),
        |q AS (SELECT 16 * r.r AS qr, 16 * c.c AS qc
        |  FROM range(32) r(r), range(48) c(c))
        |SELECT CAST(q.qr AS BIGINT) AS qr, CAST(q.qc AS BIGINT) AS qc,
        |  CAST(count(*) AS BIGINT) AS box_n,
        |  CAST(sum(cells.v) AS BIGINT) AS box_sum
        |FROM q JOIN cells
        |  ON cells.r BETWEEN q.qr - 20 AND q.qr + 20
        | AND cells.c BETWEEN q.qc - 20 AND q.qc + 20
        |GROUP BY q.qr, q.qc
        |ORDER BY qr, qc""".stripMargin)
  )
}
