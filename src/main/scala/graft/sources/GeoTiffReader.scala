package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.core._

/** Minimal pure-JVM single-band GeoTIFF reader (reference `tif_read`,
  * spatial_analysis.py:174-209 via rasterio — no GDAL in the sandbox, so
  * the subset the reference relies on is implemented from the public
  * TIFF 6.0 + GeoTIFF 1.1 specs): both byte orders, classic TIFF, strip-
  * and tile-organized layouts, uncompressed, one sample/pixel, sample
  * formats uint8/16/32, int16/32, float32/64, ModelPixelScale +
  * ModelTiepoint georeferencing (north-up square pixels — all the
  * reference supports), ProjectedCSTypeGeoKey, GDAL_NODATA -> NaN.
  *
  * `readWindow` mirrors the reference's extent window
  * (spatial_analysis.py:188-204): map2sub of the extent corners, then the
  * Python slice `[min, max)` — the max row/col is EXCLUDED (the quirk the
  * oracle bakes in) — and only the strips/tiles intersecting the window
  * are decoded (rasterio's windowed-read I/O shape). */
object GeoTiffReader {

  final case class Tiff(ref: GridRef, data: Array[Double], epsg: Int)

  private final class Ifd(buf: ByteBuffer) {
    // tag -> (type, count, valueFieldOffset)
    private val entries: Map[Int, (Int, Int, Int)] = {
      buf.position(4)
      val ifdOff = buf.getInt
      buf.position(ifdOff)
      val n = buf.getShort & 0xFFFF
      (0 until n).map { i =>
        val base = ifdOff + 2 + i * 12
        buf.position(base)
        val tag = buf.getShort & 0xFFFF
        val typ = buf.getShort & 0xFFFF
        val count = buf.getInt
        tag -> ((typ, count, base + 8))
      }.toMap
    }

    private def typeSize(t: Int): Int = t match {
      case 1 | 2 | 6 | 7 => 1
      case 3 | 8 => 2
      case 4 | 9 | 11 => 4
      case 5 | 10 | 12 => 8
      case _ => throw new IllegalArgumentException(s"TIFF type $t")
    }

    def has(tag: Int): Boolean = entries.contains(tag)

    /** Values of an integer-typed tag (SHORT/LONG, any count). */
    def longs(tag: Int): Array[Long] = {
      val (typ, count, off) = entries(tag)
      val sz = typeSize(typ)
      val at = if (sz * count <= 4) off else { buf.position(off); buf.getInt }
      Array.tabulate(count) { i =>
        buf.position(at + i * sz)
        typ match {
          case 3 => (buf.getShort & 0xFFFF).toLong
          case 4 => buf.getInt.toLong & 0xFFFFFFFFL
          case 8 => buf.getShort.toLong
          case 9 => buf.getInt.toLong
          case _ => throw new IllegalArgumentException(s"int tag $tag type $typ")
        }
      }
    }

    def long1(tag: Int, default: Long): Long =
      if (has(tag)) longs(tag)(0) else default

    def doubles(tag: Int): Array[Double] = {
      val (typ, count, off) = entries(tag)
      require(typ == 12, s"tag $tag: expected DOUBLE, got type $typ")
      buf.position(off)
      val at = buf.getInt
      Array.tabulate(count) { i => buf.position(at + i * 8); buf.getDouble }
    }

    def ascii(tag: Int): String = {
      val (_, count, off) = entries(tag)
      val at = if (count <= 4) off else { buf.position(off); buf.getInt }
      val bytes = new Array[Byte](count)
      buf.position(at)
      buf.get(bytes)
      new String(bytes, "ASCII").takeWhile(_ != 0.toChar).trim
    }
  }

  /** Decode header-only: georeference + layout (no pixel I/O). */
  def decodeBytes(bytes: Array[Byte]): Tiff = decodeWindow(bytes, None)

  def read(path: String): Tiff =
    decodeBytes(Files.readAllBytes(Paths.get(path)))

  /** Windowed read by map extent — reference slice semantics (max row/col
    * EXCLUDED), window clamped to the grid. */
  def readWindow(path: String, e: Extent): Tiff =
    decodeWindow(Files.readAllBytes(Paths.get(path)), Some(e))

  /** Parsed header + the (absolute-indexed) pixel buffer — everything a
    * row-band decode task needs. Never serialized: each task parses its
    * own mapped buffer. */
  private final case class Header(buf: ByteBuffer, ifd: Ifd, ncols: Int,
      nrows: Int, bits: Int, fmt: Int, bytesPerPx: Int, cellsize: Double,
      nodata: Double, epsg: Int, fullRef: GridRef)

  /** Memory-map a local file read-only: header parsing touches only the
    * IFD pages, a row-band decode touches only its strips'/tiles' pages —
    * the ranged-read I/O shape of a windowed ingest. */
  private def mmap(path: String): ByteBuffer = {
    val ch = java.nio.channels.FileChannel.open(Paths.get(path),
      java.nio.file.StandardOpenOption.READ)
    try {
      // classic TIFF offsets are 32-bit; this reader additionally binds
      // itself to one <= 2 GiB mapping (Int-indexed ByteBuffer, strip
      // offsets narrowed via toInt). Fail loudly rather than wrapping an
      // offset negative — BigTIFF (64-bit offsets) is the extension
      // point for anything larger, not a bigger map.
      require(ch.size() <= Int.MaxValue,
        s"$path is ${ch.size()} bytes — classic-TIFF reader supports " +
          "<= 2 GiB per file; split the export or use BigTIFF tooling")
      ch.map(java.nio.channels.FileChannel.MapMode.READ_ONLY, 0, ch.size())
    } finally ch.close()
  }

  private def toLocalPath(uri: String): String =
    if (uri.startsWith("file:")) new java.net.URI(uri).getPath else uri

  private def decodeWindow(bytes: Array[Byte], window: Option[Extent]): Tiff = {
    val h = parseHeader(ByteBuffer.wrap(bytes))
    // window in pixel space (reference: slice(min, max) — max EXCLUSIVE)
    val (r0, r1ex, c0, c1ex) = window match {
      case None => (0, h.nrows, 0, h.ncols)
      case Some(e) =>
        val (ra, ca) = h.fullRef.map2sub(e.left, e.bottom)
        val (rb, cb) = h.fullRef.map2sub(e.right, e.top)
        val rMin = math.max(0, math.min(ra, rb))
        val rMax = math.min(h.nrows, math.max(ra, rb)) // exclusive
        val cMin = math.max(0, math.min(ca, cb))
        val cMax = math.min(h.ncols, math.max(ca, cb)) // exclusive
        (rMin, rMax, cMin, cMax)
    }
    decodeRows(h, r0, r1ex, c0, c1ex)
  }

  private def parseHeader(buf0: ByteBuffer): Header = {
    val magic = s"${(buf0.get(0) & 0xFF).toChar}${(buf0.get(1) & 0xFF).toChar}"
    val order = magic match {
      case "II" => ByteOrder.LITTLE_ENDIAN
      case "MM" => ByteOrder.BIG_ENDIAN
      case m => throw new IllegalArgumentException(s"not a TIFF: magic '$m'")
    }
    val buf = buf0.duplicate().order(order)
    require((buf.getShort(2) & 0xFFFF) == 42, "not a classic TIFF")
    val ifd = new Ifd(buf)

    val ncols = ifd.long1(256, -1).toInt
    val nrows = ifd.long1(257, -1).toInt
    require(ncols > 0 && nrows > 0, "missing ImageWidth/ImageLength")
    require(ifd.long1(259, 1) == 1, "compressed TIFF not supported")
    require(ifd.long1(277, 1) == 1, "multi-sample TIFF not supported")
    val bits = ifd.long1(258, 1).toInt
    val fmt = ifd.long1(339, 1).toInt // 1 uint, 2 int, 3 ieee float
    val bytesPerPx = bits / 8

    val scale = ifd.doubles(33550)
    require(scale(0) == scale(1),
      s"non-square pixels (${scale(0)} x ${scale(1)}) — reference mandates square")
    val cellsize = scale(0)
    val tie = ifd.doubles(33922) // i, j, k, x, y, z
    val left = tie(3) - tie(0) * cellsize
    val top = tie(4) + tie(1) * cellsize

    val nodata: Double =
      if (ifd.has(42113)) {
        val s = ifd.ascii(42113)
        if (s.isEmpty || s == "nan") Double.NaN else s.toDouble
      } else Double.NaN

    val epsg: Int =
      if (ifd.has(34735)) {
        val keys = ifd.longs(34735)
        // directory: groups of 4 shorts; key 3072 = ProjectedCSTypeGeoKey.
        // Only the INLINE form (TIFFTagLocation == 0) carries the EPSG code
        // in the ValueOffset slot; a foreign file storing it out-of-line
        // (location = another tag id) would otherwise yield a garbage code.
        (4 until keys.length by 4).collectFirst {
          case i if keys(i) == 3072L && keys(i + 1) == 0L => keys(i + 3).toInt
        }.getOrElse(0)
      } else 0

    val fullRef = GridRef(ncols, nrows, left, top - nrows * cellsize,
      cellsize, if (nodata.isNaN) -9999.0 else nodata,
      if (epsg > 0) s"EPSG:$epsg" else "")
    Header(buf, ifd, ncols, nrows, bits, fmt, bytesPerPx, cellsize,
      nodata, epsg, fullRef)
  }

  /** Decode the pixel window [r0, r1ex) x [c0, c1ex) — only the strips or
    * layout tiles intersecting it are touched. */
  private def decodeRows(h: Header, r0: Int, r1ex: Int,
      c0: Int, c1ex: Int): Tiff = {
    val Header(buf, ifd, ncols, nrows, bits, fmt, bytesPerPx, cellsize,
      nodata, epsg, fullRef) = h
    val wh = r1ex - r0
    val ww = c1ex - c0
    require(wh > 0 && ww > 0, "empty read window")

    def pxAt(at: Int): Double = {
      val raw = (bits, fmt) match {
        case (8, 1) => (buf.get(at) & 0xFF).toDouble
        case (16, 1) => (buf.getShort(at) & 0xFFFF).toDouble
        case (16, 2) => buf.getShort(at).toDouble
        case (32, 1) => (buf.getInt(at).toLong & 0xFFFFFFFFL).toDouble
        case (32, 2) => buf.getInt(at).toDouble
        case (32, 3) => buf.getFloat(at).toDouble
        case (64, 3) => buf.getDouble(at)
        case other => throw new IllegalArgumentException(
          s"unsupported (bits, sampleFormat) $other")
      }
      if (!nodata.isNaN && raw == nodata) Double.NaN
      else if (nodata.isNaN && raw.isNaN) Double.NaN
      else raw
    }

    val out = new Array[Double](wh * ww)
    if (ifd.has(322)) {
      // tile-organized: TileWidth/TileLength/TileOffsets
      val tw = ifd.long1(322, -1).toInt
      val th = ifd.long1(323, -1).toInt
      val offs = ifd.longs(324)
      val tilesAcross = (ncols + tw - 1) / tw
      val ty0 = r0 / th; val ty1 = (r1ex - 1) / th
      val tx0 = c0 / tw; val tx1 = (c1ex - 1) / tw
      for (ty <- ty0 to ty1; tx <- tx0 to tx1) {
        val off = offs(ty * tilesAcross + tx).toInt
        val rA = math.max(r0, ty * th); val rB = math.min(r1ex - 1, ty * th + th - 1)
        val cA = math.max(c0, tx * tw); val cB = math.min(c1ex - 1, tx * tw + tw - 1)
        var r = rA
        while (r <= rB) {
          var c = cA
          while (c <= cB) {
            val at = off + ((r - ty * th) * tw + (c - tx * tw)) * bytesPerPx
            out((r - r0) * ww + (c - c0)) = pxAt(at)
            c += 1
          }
          r += 1
        }
      }
    } else {
      // strip-organized
      val rowsPerStrip = ifd.long1(278, nrows.toLong).toInt
      val offs = ifd.longs(273)
      val s0 = r0 / rowsPerStrip; val s1 = (r1ex - 1) / rowsPerStrip
      for (s <- s0 to s1) {
        val off = offs(s).toInt
        val rA = math.max(r0, s * rowsPerStrip)
        val rB = math.min(r1ex - 1, s * rowsPerStrip + rowsPerStrip - 1)
        var r = rA
        while (r <= rB) {
          var c = c0
          while (c < c1ex) {
            val at = off + ((r - s * rowsPerStrip) * ncols + c) * bytesPerPx
            out((r - r0) * ww + (c - c0)) = pxAt(at)
            c += 1
          }
          r += 1
        }
      }
    }

    val winRef = GridRef(ww, wh, fullRef.xll + c0 * cellsize,
      fullRef.yll + (nrows - r1ex) * cellsize, cellsize, fullRef.nodata,
      fullRef.crs)
    Tiff(winRef, out, epsg)
  }

  /** Header-only read: georeference, dims, CRS — no pixel I/O beyond the
    * IFD pages of the mapped file. */
  def readHeaderRef(path: String): GridRef = parseHeader(mmap(path)).fullRef

  /** Decode one row band [r0, r1ex) of a file via a ranged mapped read. */
  def readRowBand(path: String, r0: Int, r1ex: Int): Tiff = {
    val h = parseHeader(mmap(path))
    decodeRows(h, math.max(0, r0), math.min(h.nrows, r1ex), 0, h.ncols)
  }

  /** Distributed ingest: file discovery (no content read) -> header pass
    * -> tile-aligned ROW-BAND tasks, each decoding only its strip/tile
    * byte ranges via [[readRowBand]] -> tile split (same contract as
    * AscIO.readTiles). The windowed reader IS the task body, so a large
    * strip-organized file (<= 2 GiB each — the classic-TIFF bound
    * [[mmap]] enforces; a 100 TB corpus is MANY such files, globbed
    * here) never decodes whole in one executor. Paths are local/POSIX
    * (this engine's FS); on a cluster store the identical two-pass shape
    * runs on ranged opens.
    *
    * Band rule: a file of `T` tile rows is cut into
    * `n = max(ceil(T / bandTiles), min(T, defaultParallelism))` bands of
    * near-equal height, band `i` covering tile rows
    * `[i * T / n, (i + 1) * T / n)`. A small file thus still decodes (and
    * everything downstream of it runs) on every core, and no band is
    * taller than `bandTiles`, the cap on one task's decode memory. Bands
    * are tile-aligned, so the emitted tile set is byte-identical to a
    * whole-file decode. */
  def readTiles(spark: SparkSession, pathGlob: String, res: Int,
      bandTiles: Int = 4): Dataset[(String, Tile)] = {
    import spark.implicits._
    require(bandTiles > 0, s"bandTiles must be positive, got $bandTiles")
    val size = 1 << res
    val parallelism = math.max(1, spark.sparkContext.defaultParallelism)
    // (path, band index, r0, r1ex)
    val bands = spark.read.format("binaryFile").load(pathGlob)
      .select("path").as[String]
      .flatMap { uri =>
        val p = toLocalPath(uri)
        val nrows = parseHeader(mmap(p)).nrows
        val tileRows = (nrows + size - 1) / size
        val n = math.max((tileRows + bandTiles - 1) / bandTiles,
          math.min(tileRows, parallelism))
        def edge(i: Int) = math.min(nrows, (i.toLong * tileRows / n).toInt * size)
        (0 until n).iterator.map(i => (p, i, edge(i), edge(i + 1)))
      }
    // Exact spread of decode tasks: a column repartition here is a
    // shuffle of tiny descriptors that AQE coalesces by BYTES into one
    // task even though each descriptor expands into a heavy decode. The
    // partitioner strides one FILE's bands round-robin across distinct
    // partitions (guaranteed: k bands -> min(k, N) tasks) and offsets
    // different files by their path hash so a glob of many small
    // single-band files also spreads.
    val spread = bands.rdd
      .map { case (p, idx, r0, r1ex) => ((p.hashCode, idx), (p, r0, r1ex)) }
      .partitionBy(new org.apache.spark.Partitioner {
        def numPartitions: Int = parallelism
        def getPartition(key: Any): Int = key match {
          case (pathHash: Int, bandIdx: Int) =>
            math.floorMod(pathHash + bandIdx, parallelism)
          case _ => 0
        }
      })
      .values
    spark.createDataset(spread)
      .flatMap { case (p, r0, r1ex) =>
        val h = parseHeader(mmap(p))
        val band = decodeRows(h, r0, r1ex, 0, h.ncols)
        val nrows = h.nrows
        val ncols = h.ncols
        val tilesX = (ncols + size - 1) / size
        val ty0 = r0 / size
        val ty1 = (r1ex - 1) / size
        for {
          ty <- ty0 to ty1
          tx <- 0 until tilesX
        } yield {
          val row0 = ty * size
          val col0 = tx * size
          val th = math.min(size, nrows - row0)
          val tw = math.min(size, ncols - col0)
          val payload = new Array[Double](th * tw)
          var r = 0
          while (r < th) {
            System.arraycopy(band.data, (row0 + r - r0) * ncols + col0,
              payload, r * tw, tw)
            r += 1
          }
          (p, Tile(CellId.encode(res, tx, ty), row0, col0, th, tw, payload))
        }
      }
  }
}
