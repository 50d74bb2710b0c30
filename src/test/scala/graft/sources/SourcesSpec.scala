package graft.sources

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.corpus.Synth

class SourcesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val golden: String = // FIXTURES.md §5 tiny ASC golden
    """ncols    4
      |nrows    3
      |xllcorner    0
      |yllcorner    0
      |cellsize    2
      |NODATA_value    -9999
      |1 2 3 4
      |5 -9999 7 8
      |9 10 11 12
      |""".stripMargin

  test("ASC golden parses per spec (header lowercase, NODATA->NaN)") {
    val (ref, data) = AscIO.decodeBytes(golden.getBytes("ASCII"), gzipped = false)
    assert(ref == GridRef(4, 3, 0, 0, 2, -9999))
    assert(data(1 * 4 + 1).isNaN) // cell (1,1)
    assert(data.count(v => !v.isNaN) == 11)
    assert(ref.extent == Extent(0, 8, 0, 6))
    assert(ref.sub2map(0, 0) == ((1.0, 5.0)))
  }

  test("ASC write -> read round trip (incl. gz) preserves values and header") {
    val dir = Files.createTempDirectory("asc")
    val ref = GridRef(17, 13, 340760, 554667, 5, -9999)
    val data = Array.tabulate(17 * 13)(i =>
      if (i % 19 == 3) Double.NaN else ((i * 31) % 1000) / 4.0)
    for (name <- Seq("a.asc", "a.asc.gz")) {
      val p = dir.resolve(name).toString
      AscIO.writeFile(p, ref, data)
      val (ref2, data2) = AscIO.readFile(p)
      assert(ref2 == ref)
      data.zip(data2).foreach { case (a, b) =>
        assert(a == b || (a.isNaN && b.isNaN))
      }
    }
  }

  test("NODATA_value honored regardless of header-key case") {
    // the reference looks up the case-preserved canonical spelling
    // (spatial_analysis.py:118); we normalize all keys to lowercase, so
    // every spelling resolves to the declared nodata — NOT the default
    for (spelling <- Seq("NODATA_value", "NODATA_VALUE", "nodata_value")) {
      val asc = golden
        .replace("NODATA_value    -9999", s"$spelling    -7")
        .replace("5 -9999 7", "5 -7 7")
      val (ref, data) = AscIO.decodeBytes(asc.getBytes("ASCII"), gzipped = false)
      assert(ref.nodata == -7.0, spelling)
      assert(data(1 * 4 + 1).isNaN, spelling) // nodata cell -> NaN
    }
  }

  test("CRS round-trips: ASC .prj sidecar (WKT) and GeoTIFF GeoKey (P6)") {
    val dir = Files.createTempDirectory("crs")
    val wkt = """PROJCS["OSGB 1936 / British National Grid",GEOGCS["OSGB 1936"]]"""
    val ref = GridRef(4, 3, 0, 0, 2, -9999, crs = wkt)
    val data = Array.tabulate(12)(_ / 4.0)
    val p = dir.resolve("c.asc").toString
    AscIO.writeFile(p, ref, data)
    assert(Files.exists(dir.resolve("c.prj")))
    val (ref2, _) = AscIO.readFile(p)
    assert(ref2 == ref) // crs included in equality
    // GeoTIFF: an EPSG-coded crs wins over the writer's parameter default
    val refE = GridRef(4, 3, 0, 0, 2, -9999).withEpsg(32630)
    val pt = dir.resolve("c.tif").toString
    GeoTiffWriter.write(pt, refE, data)
    assert(GeoTiffReader.read(pt).ref == refE)
    assert(GeoTiffReader.read(pt).epsg == 32630)
    // windowRef carries crs through clips
    val (r0, r1, c0, c1) = ref.clipWindow(Extent(0, 4, 0, 4))
    assert(ref.windowRef(r0, r1, c0, c1).crs == wkt)
  }

  test("round trip preserves non-default nodata (!= -9999)") {
    val dir = Files.createTempDirectory("asc-nd")
    val ref = GridRef(5, 4, 10, 20, 2.5, nodata = -1.0)
    val data = Array.tabulate(20)(i => if (i % 7 == 2) Double.NaN else i / 4.0)
    val p = dir.resolve("nd.asc").toString
    AscIO.writeFile(p, ref, data)
    val (ref2, data2) = AscIO.readFile(p)
    assert(ref2 == ref)
    data.zip(data2).foreach { case (a, b) =>
      assert(a == b || (a.isNaN && b.isNaN))
    }
  }

  test("formatG matches python %g on representative values") {
    assert(AscIO.formatG(0.0) == "0")
    assert(AscIO.formatG(2.0) == "2")
    assert(AscIO.formatG(-9999.0) == "-9999")
    assert(AscIO.formatG(340760.0) == "340760")
    assert(AscIO.formatG(1000000.0) == "1e+06")
    assert(AscIO.formatG(0.25) == "0.25")
    assert(AscIO.formatG(123.456789) == "123.457")
    assert(AscIO.formatG(0.00001) == "1e-05")
    // rounding-boundary cases: branch selection must use the exponent
    // AFTER rounding to 6 significant digits (python/C %g rounds first)
    assert(AscIO.formatG(999999.5) == "1e+06")
    assert(AscIO.formatG(999999.4) == "999999")
    assert(AscIO.formatG(0.000099999951) == "0.0001")
    assert(AscIO.formatG(0.000099999941) == "9.99999e-05")
  }

  test("distributed ASC export == single-buffer writer byte-for-byte; sparse bands -> nodata rows") {
    import spark.implicits._
    val dir = Files.createTempDirectory("ascexp")
    val ref = GridRef(100, 80, 340760, 554667, 5, -9999)
    val data = Array.tabulate(100 * 80)(i =>
      if (i % 7 == 3) Double.NaN else ((i * 31) % 997) / 4.0)
    def tileSeq(dropBand: Int): Seq[graft.core.Tile] = {
      val size = 32
      for {
        ty <- 0 until 3 if ty != dropBand
        tx <- 0 until 4
      } yield {
        val row0 = ty * size; val col0 = tx * size
        val h = math.min(size, 80 - row0); val w = math.min(size, 100 - col0)
        val payload = Array.tabulate(h * w)(i =>
          data((row0 + i / w) * 100 + col0 + i % w))
        graft.core.Tile(graft.core.CellId.encode(5, tx, ty), row0, col0, h, w, payload)
      }
    }
    val golden = dir.resolve("golden.asc").toString
    AscIO.writeFile(golden, ref, data)
    val dist = dir.resolve("dist.asc").toString
    AscIO.writeTiles(spark.createDataset(tileSeq(-1)), ref, dist)
    assert(java.util.Arrays.equals(
      Files.readAllBytes(java.nio.file.Paths.get(golden)),
      Files.readAllBytes(java.nio.file.Paths.get(dist))), "distributed export differs")
    // sparse: drop tile band 1 (rows 32..63) -> those rows read back as NaN
    val sparse = dir.resolve("sparse.asc").toString
    AscIO.writeTiles(spark.createDataset(tileSeq(1)), ref, sparse)
    val (sref, sdata) = AscIO.readFile(sparse)
    assert(sref == ref)
    for (r <- 0 until 80; c <- 0 until 100) {
      val want = if (r >= 32 && r < 64) Double.NaN else data(r * 100 + c)
      val got = sdata(r * 100 + c)
      assert(got == want || (got.isNaN && want.isNaN), s"($r,$c)")
    }
  }

  test("distributed ASC export scales past the driver-array comfort zone (4096x4096)") {
    import spark.implicits._
    // the WRITE side never materializes the 16.7M-cell grid on the driver:
    // 16 row bands are formatted and written by executors, the driver only
    // stitches streams (readFile below is the test oracle, not the sink)
    val dir = Files.createTempDirectory("ascbig")
    val n = 4096
    val ref = GridRef(n, n, 0, 0, 1, -9999)
    def v(r: Int, c: Int): Double = ((r.toLong * 31 + c.toLong * 17) % 1000) / 4.0
    val size = 256
    val tiles = spark.range(((n / size) * (n / size)).toLong).map { id =>
      val ty = (id / (n / size)).toInt; val tx = (id % (n / size)).toInt
      val row0 = ty * size; val col0 = tx * size
      val payload = Array.tabulate(size * size)(i => v(row0 + i / size, col0 + i % size))
      graft.core.Tile(graft.core.CellId.encode(8, tx, ty), row0, col0, size, size, payload)
    }
    val p = dir.resolve("big.asc").toString
    AscIO.writeTiles(tiles, ref, p)
    val (ref2, data2) = AscIO.readFile(p)
    assert(ref2 == ref)
    var checked = 0
    for (r <- 0 until n by 127; c <- 0 until n by 131) {
      assert(data2(r * n + c) == v(r, c), s"($r,$c)")
      checked += 1
    }
    assert(checked > 900)
    Files.delete(java.nio.file.Paths.get(p))
  }

  test("distributed binaryFile ingest tiles an ASC identically to local read") {
    val dir = Files.createTempDirectory("ascdist")
    val ref = Synth.demRef
    val data = Array.tabulate(ref.ncols * ref.nrows)(i =>
      Synth.demValue(i / ref.ncols, i % ref.ncols))
    AscIO.writeFile(dir.resolve("dem.asc").toString, ref, data)
    val tiles = AscIO.readTiles(spark, dir.resolve("dem.asc").toString, 6).collect()
    assert(tiles.map(_._2.h.toLong * tiles.head._2.w).nonEmpty)
    val total = tiles.map { case (_, t) => t.h.toLong * t.w }.sum
    assert(total == ref.numCells)
    tiles.foreach { case (_, t) =>
      for (r <- 0 until t.h; c <- 0 until t.w) {
        val want = Synth.demValue(t.row0 + r, t.col0 + c)
        val got = t.payload(r * t.w + c)
        assert(got == want || (got.isNaN && want.isNaN))
      }
    }
  }

  test("GeoTIFF writer round-trips via the JDK TIFF reader (pixels + shape)") {
    val dir = Files.createTempDirectory("gtiff")
    val ref = GridRef(37, 23, 340760, 554667, 5, -9999)
    val data = Array.tabulate(37 * 23)(i =>
      if (i % 17 == 3) Double.NaN else ((i * 31) % 1000) / 4.0)
    val p = dir.resolve("t.tif").toString
    GeoTiffWriter.write(p, ref, data, epsg = 27700)
    val img = javax.imageio.ImageIO.read(new java.io.File(p))
    assert(img != null, "JDK TIFF reader rejected the file")
    assert(img.getWidth == 37 && img.getHeight == 23)
    val raster = img.getRaster
    for (r <- 0 until 23; c <- 0 until 37) {
      val want = data(r * 37 + c)
      val got = raster.getSampleFloat(c, r, 0)
      if (want.isNaN) assert(got == -9999.0f)
      else assert(got == want.toFloat, s"($r,$c)")
    }
    // geo tags: parse our own IFD for pixel scale + tiepoint
    val bytes = Files.readAllBytes(Paths.get(p))
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val nTags = bb.getShort(8) & 0xFFFF
    var scaleOff = -1; var tieOff = -1
    for (t <- 0 until nTags) {
      val off = 10 + t * 12
      val id = bb.getShort(off) & 0xFFFF
      if (id == 33550) scaleOff = bb.getInt(off + 8)
      if (id == 33922) tieOff = bb.getInt(off + 8)
    }
    assert(bb.getDouble(scaleOff) == 5.0)
    assert(bb.getDouble(tieOff + 24) == ref.left)
    assert(bb.getDouble(tieOff + 32) == ref.top)
  }

  test("GeoTIFF write -> read round trip (strip AND tiled layouts)") {
    val dir = Files.createTempDirectory("gtiffr")
    val ref = GridRef(37, 23, 340760, 554667, 5, -9999)
    // quarters < 250 are exactly representable in Float32 -> bit-exact trip
    val data = Array.tabulate(37 * 23)(i =>
      if (i % 17 == 3) Double.NaN else ((i * 31) % 1000) / 4.0)
    for (ts <- Seq(0, 16)) {
      val p = dir.resolve(s"t$ts.tif").toString
      GeoTiffWriter.write(p, ref, data, epsg = 27700, tileSize = ts)
      val t = GeoTiffReader.read(p)
      assert(t.ref == ref.withEpsg(27700), s"tileSize=$ts") // GeoKey -> crs
      assert(t.epsg == 27700)
      data.zip(t.data).zipWithIndex.foreach { case ((a, b), i) =>
        assert(a == b || (a.isNaN && b.isNaN), s"ts=$ts px $i: $a vs $b")
      }
    }
  }

  test("GeoTIFF windowed read: reference slice semantics (max excluded)") {
    val dir = Files.createTempDirectory("gtiffw")
    val ref = GridRef(20, 30, 0, 0, 5, -9999)
    val data = Array.tabulate(20 * 30)(i => (i % 97) / 4.0)
    val p = dir.resolve("w.tif").toString
    GeoTiffWriter.write(p, ref, data, tileSize = 16)
    // extent corners at centers of (5,3) and (15,9): reference map2sub ->
    // rows [5,15) cols [3,9) — slice EXCLUDES the max (py slice quirk,
    // spatial_analysis.py:195-197)
    val w = GeoTiffReader.readWindow(p, Extent(17.5, 47.5, 72.5, 122.5))
    assert(w.ref.nrows == 10 && w.ref.ncols == 6)
    assert(w.ref.xll == 15.0 && w.ref.yll == 75.0 && w.ref.cellsize == 5.0)
    for (r <- 0 until 10; c <- 0 until 6)
      assert(w.data(r * 6 + c) == data((r + 5) * 20 + (c + 3)), s"($r,$c)")
  }

  test("distributed GeoTIFF ingest: multi-strip file decodes across >1 task; tiles == whole-file decode") {
    import spark.implicits._
    val parallelism = spark.sparkContext.defaultParallelism
    /** Distinct non-empty partitions of `tiles`, after checking that they
      * hold each tile of the file at `p` once and stitch back into its
      * whole-file decode bit for bit (incl. NaN holes). */
    def decodePartitions(p: String, ref: GridRef,
        tiles: org.apache.spark.sql.Dataset[(String, Tile)]): Int = {
      val partIds = tiles.mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        if (it.nonEmpty) Iterator.single(pid) else Iterator.empty
      }.distinct().collect()
      val collected = tiles.collect()
      // each tile exactly once, full cover
      val ids = collected.map(_._2.cellId)
      assert(ids.length == ids.distinct.length)
      assert(ids.length == ((ref.nrows + 31) / 32) * ((ref.ncols + 31) / 32))
      val whole = GeoTiffReader.read(p)
      val rebuilt = Array.fill(ref.nrows * ref.ncols)(Double.NaN)
      collected.foreach { case (_, t) =>
        for (r <- 0 until t.h; c <- 0 until t.w)
          rebuilt((t.row0 + r) * ref.ncols + (t.col0 + c)) = t.payload(r * t.w + c)
      }
      assert(java.util.Arrays.equals(rebuilt, whole.data))
      assert(GeoTiffReader.readHeaderRef(p) == whole.ref)
      partIds.length
    }
    def write(ref: GridRef, name: String): String = {
      val p = Files.createTempDirectory("gtiffband").resolve(name).toString
      GeoTiffWriter.write(p, ref, Array.tabulate(ref.nrows * ref.ncols)(i =>
        Synth.demValue(i / ref.ncols, i % ref.ncols)))
      p
    }
    val ref = Synth.demRef // 203 x 154, strip-organized by default
    val p = write(ref, "band.tif")
    // res 5 (32-px tiles), bands of at most 2 tile rows -> 4 band tasks
    val capped = decodePartitions(p, ref, GeoTiffReader.readTiles(spark, p, res = 5, bandTiles = 2))
    assert(capped > 1, s"one file must decode across >1 task, got $capped partitions")
    // default arguments: fewer tile rows than 4 x parallelism still fill
    // min(tileRows, parallelism) tasks: 7 tile rows here; below 3, 5 and
    // 6, the last two in bands of unequal height
    val tileRows = (ref.nrows + 31) / 32
    assert(tileRows < 4 * parallelism)
    assert(decodePartitions(p, ref, GeoTiffReader.readTiles(spark, p, res = 5)) ==
      math.min(tileRows, parallelism))
    for ((nrows, rows) <- Seq(80 -> 3, 150 -> 5, 170 -> 6)) { // last row partial
      val short = ref.copy(nrows = nrows)
      val ps = write(short, s"short$rows.tif")
      assert(decodePartitions(ps, short, GeoTiffReader.readTiles(spark, ps, res = 5)) ==
        math.min(rows, parallelism), s"$rows tile rows")
    }
  }

  test("MJPEG-AVI export (make_mp4 analog): RIFF structure + every frame ImageIO-decodable") {
    val (w, h, n) = (48, 32, 5)
    val frames = (0 until n).map(k =>
      Array.tabulate(w * h)(i => ((k * 37 + i) % 251).toDouble))
    val avi = MjpegAvi.writeAnimatedBytes(frames, w, h, lo = 0, hi = 250, fps = 8)
    assert(new String(avi, 0, 4, "ASCII") == "RIFF")
    assert(new String(avi, 8, 4, "ASCII") == "AVI ")
    assert(new String(avi.takeRight(16 * n + 8).take(4), "ASCII") == "idx1")
    val jpegs = MjpegAvi.readFrameJpegs(avi)
    assert(jpegs.length == n)
    for ((j, k) <- jpegs.zipWithIndex) {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(j))
      assert(img != null, s"frame $k not a decodable JPEG")
      assert(img.getWidth == w && img.getHeight == h)
      // lossy codec: mean intensity must track the source ramp closely
      // (raw raster samples: getRGB would gamma-convert TYPE_BYTE_GRAY)
      var sum = 0L
      for (y <- 0 until h; x <- 0 until w) sum += img.getRaster.getSample(x, y, 0)
      val mean = sum.toDouble / (w * h)
      val want = frames(k).map(v => math.max(0,
        math.min(255, (v / 250.0 * 255.0).toInt))).sum.toDouble / (w * h)
      assert(math.abs(mean - want) < 4.0, s"frame $k mean $mean vs $want")
    }
    // file form round-trips through the same parser
    val dir = Files.createTempDirectory("avi")
    val p = dir.resolve("clip.avi").toString
    MjpegAvi.writeAnimated(p, frames, w, h, 0, 250, fps = 8)
    assert(MjpegAvi.readFrameJpegs(Files.readAllBytes(Paths.get(p))).length == n)
  }

  test("animated GIF export: 3 frames, GIF89a, looping, round-readable") {
    val dir = Files.createTempDirectory("gif")
    val (w, h) = (40, 30)
    val frames = (0 until 3).map(k =>
      Array.tabulate(w * h)(i =>
        if (i % 37 == 5) Double.NaN else ((i + k * 100) % 250).toDouble))
    val p = dir.resolve("anim.gif").toString
    GifWriter.writeAnimated(p, frames, w, h, lo = 0, hi = 250, delayCs = 20)
    val bytes = Files.readAllBytes(Paths.get(p))
    assert(new String(bytes, 0, 6, "ASCII") == "GIF89a")
    assert(new String(bytes, "ISO-8859-1").contains("NETSCAPE2.0"))
    val rd = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    rd.setInput(javax.imageio.ImageIO.createImageInputStream(
      new java.io.File(p)))
    assert(rd.getNumImages(true) == 3)
    val f0 = rd.read(0)
    assert(f0.getWidth == w && f0.getHeight == h)
    // NaN renders black (index/intensity 0)
    assert((f0.getRGB(5, 0) & 0xFF) == 0) // pixel i=5: 5 % 37 == 5 -> NaN
  }

  test("video frame-sampling: GIF clip round trip is integer-exact, sampled frames only") {
    import spark.implicits._
    val (w, h, nf) = (48, 32, 12)
    def px(cid: Long, f: Int, i: Int): Int = ((cid * 37 + f * 11 + i) % 251).toInt
    val clips = spark.createDataset(Seq(0L, 1L).map { cid =>
      val frames = (0 until nf).map(f =>
        Array.tabulate(w * h)(i => px(cid, f, i).toDouble))
      (cid, graft.sources.GifWriter.writeAnimatedBytes(frames, w, h, 0, 250, 10))
    })
    val got = graft.codecs.VideoOps.frameStats(clips, every = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getInt(2), r.getInt(3), r.getLong(4), r.getLong(5))).toMap
    assert(got.keySet == (for (c <- 0L to 1L; f <- 0 until nf by 3) yield (c, f)).toSet)
    for (((cid, f), (gw, gh, sum, nonblack)) <- got) {
      assert(gw == w && gh == h)
      // the writer's quantization: g = clamp((v - lo)/(hi - lo) * 255)
      var wantSum = 0L; var wantNb = 0L
      for (i <- 0 until w * h) {
        val g = math.max(0, math.min(255, (px(cid, f, i) / 250.0 * 255.0).toInt))
        wantSum += g; if (g != 0) wantNb += 1
      }
      assert(sum == wantSum, s"clip $cid frame $f sum")
      assert(nonblack == wantNb, s"clip $cid frame $f nonblack")
    }
  }

  test("shapefile reader reproduces the embedded CA1 fixture exactly") {
    val path = "/root/reference/hydro_raster/sample/CA1_overhead_features.shp"
    assume(Files.exists(Paths.get(path)))
    val got = ShpReader.readFeatures(path, "adjust_val")
    assert(got.size == 4)
    // ring coordinates match the FIXTURES.md decode byte-for-byte
    // FIXTURES.md embeds the 4-decimal decode; the file holds full doubles
    got.zip(Synth.ca1Features).foreach { case (g, want) =>
      assert(g.kind == "polygon")
      g.xs.zip(want.xs).foreach { case (a, b) =>
        assert(math.abs(a - b) < 5e-5, s"feature ${g.featureId} x: $a vs $b")
      }
      g.ys.zip(want.ys).foreach { case (a, b) =>
        assert(math.abs(a - b) < 5e-5, s"feature ${g.featureId} y: $a vs $b")
      }
    }
    // dbf: id column = {2,4,5,9}; adjust_val = -3.00 then NULLs
    val full = ShpReader.read(path)
    assert(full.records.map(_("id")) == Seq(Some(2.0), Some(4.0), Some(5.0), Some(9.0)))
    assert(full.records.head("adjust_val").contains(-3.0))
    assert(full.records.tail.forall(_("adjust_val").isEmpty))
    // null-attr burn path: NaN attr
    assert(got.head.attr == -3.0 && got.tail.forall(_.attr.isNaN))
  }
}
