package graft.operators

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** The per-cell frames every tile and bucket operator returns: their
  * public columns and Spark types. */
class CellViewSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  // 40 x 36 at res 4: partial edge tiles, a NaN hole and a pit
  val ref = GridRef(ncols = 40, nrows = 36, xll = 0, yll = 0, cellsize = 1)
  val res = 4
  lazy val dem = TileOps.tileGrid(spark, ref, res) { (r, c) =>
    if (r >= 10 && r < 13 && c >= 20 && c < 24) Double.NaN
    else ((r - 18) * (r - 18) + (c - 25) * (c - 25) + (r * 7 + c * 3) % 5).toDouble
  }
  lazy val cost = TileOps.tileGrid(spark, ref, res) { (r, c) =>
    if (r == 5 && c > 3 && c < 30) Double.NaN else 1.0 + (r * 3 + c) % 4
  }
  lazy val points = {
    import spark.implicits._
    spark.createDataset((0 until 60).map(i =>
      PtRec(i.toLong, (i * 37 % 400) / 10.0, (i * 53 % 360) / 10.0, (i % 9).toDouble)))
  }
  lazy val features = Seq(
    Feature(0L, "polygon", Array(2.5, 30.5, 18.0), Array(3.0, 8.0, 30.0), attr = 5.0, seq = 0),
    Feature(1L, "polygon", Array(10.0, 39.0, 39.0, 10.0), Array(20.0, 20.0, 35.0, 35.0),
      attr = 7.0, seq = 1))

  val L = LongType; val I = IntegerType; val D = DoubleType

  /** (family, frame, its columns and types). */
  lazy val frames: Seq[(String, String, () => DataFrame, Seq[(String, DataType)])] = Seq(
    ("Flow", "flowDir", () => Flow.flowDir(dem, ref, res), Seq("row" -> L, "col" -> L, "dir" -> I)),
    ("Flow", "flowAcc", () => Flow.flowAcc(dem, ref, res), Seq("row" -> L, "col" -> L, "acc" -> L)),
    ("Flow", "longestUpstream", () => Flow.longestUpstream(dem, ref, res),
      Seq("row" -> L, "col" -> L, "ncard" -> L, "ndiag" -> L)),
    ("Flow", "downstream", () => Flow.downstream(dem, ref, res),
      Seq("row" -> L, "col" -> L, "basin_r" -> L, "basin_c" -> L, "ncard" -> L, "ndiag" -> L)),
    ("Flow", "nearestDrainage", () => Flow.nearestDrainage(dem, ref, res, 8L),
      Seq("row" -> L, "col" -> L, "stream_r" -> L, "stream_c" -> L, "ncard" -> L, "ndiag" -> L)),
    ("Flow", "fillSinks", () => Flow.fillSinks(dem, ref, res), Seq("row" -> L, "col" -> L, "fill" -> D)),
    ("Stencil", "hornGradient", () => Stencil.hornGradient(dem, ref, res),
      Seq("row" -> I, "col" -> I, "gx" -> D, "gy" -> D)),
    ("Stencil", "hillshade", () => Stencil.hillshade(dem, ref, res),
      Seq("row" -> I, "col" -> I, "shade" -> D)),
    ("Stencil", "curvature", () => Stencil.curvature(dem, ref, res),
      Seq("row" -> L, "col" -> L, "curv" -> D, "prof" -> D, "plan" -> D)),
    ("Stencil", "terrainIndices", () => Stencil.terrainIndices(dem, ref, res),
      Seq("row" -> L, "col" -> L, "tpi" -> D, "tri" -> D)),
    ("CostDistance", "accumulate", () => CostDistance.accumulate(cost, ref, res, _ == 4.0),
      Seq("row" -> L, "col" -> L, "dist" -> D)),
    ("CostDistance", "backlink", () => CostDistance.backlink(cost, ref, res, _ == 4.0),
      Seq("row" -> L, "col" -> L, "dir" -> L)),
    ("TileOps", "cells", () => TileOps.cells(dem), Seq("row" -> I, "col" -> I, "v" -> D)),
    ("TileOps", "stats", () => Downsample.stats(dem, ref, res, 4, "average"),
      Seq("row" -> I, "col" -> I, "v" -> D)),
    ("Rasterize", "burn", () => Rasterize(spark, features, ref, res, useAttr = true).toDF(),
      Seq("row" -> I, "col" -> I, "v" -> D)),
    ("Knn", "nearestBucketed", () => Knn.nearestBucketed(spark, points, ref, 3),
      Seq("row" -> I, "col" -> I, "v" -> D, "pid" -> L)),
    ("Knn", "idwBucketed", () => Knn.idwBucketed(spark, points, ref, 3, 3),
      Seq("row" -> I, "col" -> I, "v" -> D)))

  /** The only columns that may be nullable: `v` is null for an all-NaN
    * cell or window; the burn's row/col were nullable index arithmetic. */
  val mayBeNull = Map("cells" -> Set("v"), "stats" -> Set("v"), "burn" -> Set("row", "col"))

  test("schema pin: every per-cell frame keeps its column names and Spark types") {
    val bad = frames.flatMap { case (_, name, frame, want) =>
      val df = frame()
      val got = df.schema.fields.map(f => f.name -> f.dataType).toSeq
      val nullable = df.schema.fields.filter(_.nullable).map(_.name).toSet
      assert(df.count() > 0, name)
      if (got == want && nullable.subsetOf(mayBeNull.getOrElse(name, Set.empty))) None
      else Some(s"$name: $got, nullable $nullable; want $want")
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  for (family <- Seq("Flow", "Stencil", "CostDistance", "TileOps", "Knn"))
    test(s"plan shape, $family: an aggregate over each frame runs one posexplode and no per-cell object") {
      frames.filter(_._1 == family).foreach { case (_, name, frame, _) =>
        assert(PlanShape.assertOneExplode(name, frame()) > 0, name)
      }
    }

  test("source rule: per-cell rows in graft/operators come from CellView, but for its named exceptions") {
    val root = Paths.get("src/main/scala/graft/operators")
    val builders = Seq("Array.newBuilder[(Long, Long", "Array.newBuilder[(Int, Int",
      "Array.newBuilder[CellPx]", "CellPx(")
    // (file, enclosing member): CellView's named exceptions, and two
    // builders of per-tile summaries whose rows are not cells
    val allowed = Set(
      "Viewshed.scala" -> "apply", "CostDistance.scala" -> "leastCostPath",
      "Flow.scala" -> "tileSpillGraph", "Vectorize.scala" -> "labelPadded")
    val member = """^  (?:(?:private|final|override)(?:\[\w+\])? )*(?:def|case class) (\w+)""".r.unanchored
    val files = Files.list(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 20, s"only ${files.size} sources under $root")
    val hits = for {
      f <- files
      lines = Files.readAllLines(f).asScala.toIndexedSeq
      (line, i) <- lines.zipWithIndex
      b <- builders if line.contains(b) && !line.contains("case class")
      owner = lines.take(i + 1).reverseIterator.collectFirst { case member(m) => m }.getOrElse("")
      if !allowed(f.getFileName.toString -> owner)
    } yield s"$f:${i + 1} (in $owner): $b"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
