package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.corpus.Synth
import scala.util.Random

class KnnSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def fixturePts: Array[(Long, Double, Double, Double)] = Synth.knnPoints

  test("KdTree nearest matches linear scan with (d2, id) tie-break") {
    val rnd = new Random(11)
    val pts = (0L until 200L).map(i =>
      (i, rnd.nextInt(100) * 0.5, rnd.nextInt(100) * 0.5, i * 1.0)).toArray
    val tree = KdTree.build(pts)
    (1 to 500).foreach { _ =>
      val qx = rnd.nextInt(200) * 0.25
      val qy = rnd.nextInt(200) * 0.25
      val want = pts.map { case (id, x, y, v) =>
        (( (x - qx) * (x - qx) + (y - qy) * (y - qy)), id, v)
      }.minBy(t => (t._1, t._2))
      val (gid, gv, gd2) = tree.nearest(qx, qy)
      assert((gd2, gid, gv) == ((want._1, want._2, want._3)), s"q=($qx,$qy)")
    }
  }

  test("KdTree knn(k) ordered by (d2, id)") {
    val pts = (0L until 50L).map(i => (i, (i % 10) * 1.0, (i / 10) * 1.0, i * 1.0)).toArray
    val tree = KdTree.build(pts)
    val got = tree.knn(4.5, 2.5, 5)
    val want = pts.map { case (id, x, y, v) =>
      ((x - 4.5) * (x - 4.5) + (y - 2.5) * (y - 2.5), id, v)
    }.sortBy(t => (t._1, t._2)).take(5)
    assert(got.map(g => (g._3, g._1)).sameElements(want.map(w => (w._1, w._2))))
  }

  test("bucketed kNN == brute force == RefKernel on the fixture") {
    import spark.implicits._
    val pts = spark.createDataset(fixturePts.map(p => PtRec(p._1, p._2, p._3, p._4)))
    val brute = Knn.nearestBrute(spark, pts, Synth.knnRef)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    val bucketed = Knn.nearestBucketed(spark, pts, Synth.knnRef, res = 5, ringK = 1)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    assert(bucketed.size == Synth.knnRef.numCells)
    assert(bucketed == brute)
    val oracle = RefKernel.nearestInterp(Synth.knnRef,
      fixturePts.map(_._2), fixturePts.map(_._3), fixturePts.map(_._4))
    bucketed.foreach { case ((r, c), (v, _)) =>
      assert(v == oracle(r, c), s"cell ($r,$c)")
    }
  }

  test("sparse points force the escalation loop; result still == brute") {
    import spark.implicits._
    // 3 points in one corner of a 120x60 grid: nearly every cell's ring-1
    // halo is empty or unprovable, so the distributed query-replication
    // escalation (incl. the doubling-ring boundless path) does all the work
    val sparse = Array(
      PtRec(0L, -4.75, 0.25, 1.0), PtRec(1L, -4.25, 0.75, 2.0),
      PtRec(2L, -3.75, 0.25, 3.0))
    val pts = spark.createDataset(sparse)
    val brute = Knn.nearestBrute(spark, pts, Synth.knnRef)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    val bucketed = Knn.nearestBucketed(spark, pts, Synth.knnRef, res = 5, ringK = 1)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    assert(bucketed.size == Synth.knnRef.numCells)
    assert(bucketed == brute)
  }

  test("IDW bucketed == brute (dense fixture AND sparse escalation path)") {
    import spark.implicits._
    for (ptsArr <- Seq(
      fixturePts.map(p => PtRec(p._1, p._2, p._3, p._4)),
      Array(PtRec(0L, -4.75, 0.25, 1.0), PtRec(1L, -4.25, 0.75, 2.0),
        PtRec(2L, -3.75, 0.25, 3.0), PtRec(3L, 50.25, 25.25, 4.0)))) {
      val pts = spark.createDataset(ptsArr.toSeq)
      val brute = Knn.idwBrute(spark, pts, Synth.knnRef, k = 3)
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
      val bucketed = Knn.idwBucketed(spark, pts, Synth.knnRef, res = 5, k = 3)
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
      assert(bucketed.size == Synth.knnRef.numCells)
      // identical summation order both paths -> bitwise-equal doubles
      assert(bucketed == brute)
    }
  }

  test("escalation loop releases superseded caches (storage stays bounded)") {
    import spark.implicits._
    // 2 points on a 120x60 grid: nearly every cell escalates and the
    // boundless doubling-ring path runs to the exhaustive bound — multiple
    // rounds. Pre-fix, every round persisted best+unresolved and never
    // released them; the gate is that persistent-RDD growth after a full
    // materialization is bounded by the per-round lineage-cut increments
    // (which ARE the result), not 3 frames per round.
    val sparse = Array(PtRec(0L, -4.75, 0.25, 1.0), PtRec(1L, 55.25, 29.75, 2.0))
    val pts = spark.createDataset(sparse)
    val before = spark.sparkContext.getPersistentRDDs.size
    val got = Knn.nearestBucketed(spark, pts, Synth.knnRef, res = 5, ringK = 1)
    assert(got.count() == Synth.knnRef.numCells)
    val after = spark.sparkContext.getPersistentRDDs.size
    // pass 1's lazy local checkpoint + the checkpointed increments and open
    // sets of the escalation rounds (<= log2(maxRing) + 2 rounds); the
    // rounds' cached frames and the bucketed points must be gone
    assert(after - before <= 8, s"persistent RDDs grew $before -> $after")
    // and the result is still exact
    val brute = Knn.nearestBrute(spark, pts, Synth.knnRef)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    val bucketed = got.collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    assert(bucketed == brute)
  }

  test("targets subset == nearestBrute on that subset; out-of-grid target rejected") {
    import spark.implicits._
    val ref = Synth.knnRef
    val corner = Seq(PtRec(0L, -4.75, 0.25, 1.0), PtRec(1L, -4.25, 0.75, 2.0),
      PtRec(2L, -3.75, 0.25, 3.0))
    val pts = spark.createDataset(corner)
    val subset = (for (r <- 0 until ref.nrows by 7; c <- 0 until ref.ncols by 9)
      yield (r, c)).toSet
    val brute = Knn.nearestBrute(spark, pts, ref)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(3)))
      .toMap.filter { case (rc, _) => subset(rc) }
    // the corner points sit beyond the pass-1 halo (one 16-unit bucket)
    // of most subset cells, so those cells are settled by escalation
    val bucketW = (1 << 5) * ref.cellsize
    val escalating = subset.count { case (r, c) =>
      val (cx, cy) = ref.sub2map(r, c)
      corner.forall(p => math.hypot(cx - p.x, cy - p.y) >= bucketW)
    }
    assert(escalating > subset.size / 2, s"$escalating of ${subset.size}")
    val got = Knn.nearestBucketed(spark, pts, ref, res = 5, ringK = 1,
        targets = Some(subset.toSeq.toDF("row", "col")))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    assert(got == brute)
    val err = intercept[Exception] {
      Knn.nearestBucketed(spark, pts, ref, res = 5, ringK = 1,
        targets = Some(Seq((0, ref.ncols)).toDF("row", "col"))).collect()
    }
    val want = s"nearestBucketed: target (0, ${ref.ncols}) outside the " +
      s"${ref.nrows} x ${ref.ncols} grid"
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains(want)), err.toString)
  }

  test("interpolators release every Dataset they persist") {
    import spark.implicits._
    // a persisted Dataset is a cache-manager entry until unpersisted; from
    // an empty cache, a call must leave it empty, with or without escalation
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache()
    val ref = Synth.knnRef
    val targets = (for (r <- 0 until ref.nrows by 5; c <- 0 until ref.ncols by 5)
      yield (r, c)).toDF("row", "col")
    for (ptsArr <- Seq(
      fixturePts.map(p => PtRec(p._1, p._2, p._3, p._4)),
      Array(PtRec(0L, -4.75, 0.25, 1.0), PtRec(1L, -4.25, 0.75, 2.0),
        PtRec(2L, -3.75, 0.25, 3.0), PtRec(3L, 50.25, 25.25, 4.0)))) {
      val pts = spark.createDataset(ptsArr.toSeq)
      val ops = Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "nearest" -> (() => Knn.nearestBucketed(spark, pts, ref, res = 5)),
        "nearest targets" -> (() =>
          Knn.nearestBucketed(spark, pts, ref, res = 5, targets = Some(targets))),
        "idw" -> (() => Knn.idwBucketed(spark, pts, ref, res = 5, k = 3)),
        "linear" -> (() => Delaunay.linearBucketed(spark, pts, ref, res = 5)),
        "cubic" -> (() => Delaunay.cubicBucketed(spark, pts, ref, res = 5)))
      for ((name, op) <- ops) {
        assert(op().count() > 0, s"$name (${ptsArr.length} points) empty")
        assert(cache.isEmpty,
          s"$name (${ptsArr.length} points) left a persisted Dataset cached")
      }
    }
  }

  test("1e6 points complete without any driver collect of the point set") {
    import spark.implicits._
    val n = 1000000L
    val ref = GridRef(ncols = 256, nrows = 128, xll = 0, yll = 0, cellsize = 1)
    val pts = spark.range(n).map { i =>
      PtRec(i, ((i * 2654435761L) % 25600L) / 100.0,
        ((i * 1103515245L) % 12800L) / 100.0, (i % 1000L) / 4.0)
    }
    val got = Knn.nearestBucketed(spark, pts, ref, res = 5, ringK = 1)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    assert(got.size == ref.numCells)
    // spot-check 64 cells against a driver-side exact scan
    val all = pts.collect() // test-side oracle only
    val tree = KdTree.build(all.map(p => (p.pid, p.x, p.y, p.v)))
    for (r <- 0 until 128 by 16; c <- 0 until 256 by 16) {
      val (pid, v, _) = tree.nearest(ref.left + (c + 0.5), ref.top - (r + 0.5))
      assert(got((r, c)) == ((v, pid)), s"cell ($r,$c)")
    }
  }
}
