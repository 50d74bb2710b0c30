package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{DriverGate, GridRef, Owned}
import graft.corpus.Synth
import graft.icelite.IceLite
import graft.ml.Batching
import graft.operators._
import graft.sim.Similarity
import graft.text.TextOps

/** [[CacheAudit]] over every operator family that caches (Knn/Delaunay
  * and Flow audit in their own specs), plus the [[Owned]] contract, the
  * source rule that keeps every cache behind it, and the block cuts Knn
  * and Flow leave once a caller releases their result. */
class CacheAuditSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def audit(calls: (String, () => Any)*): Unit = {
    val bad = CacheAudit(spark)(calls: _*)
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("CacheAudit sees a leaked cache, a second cache of one plan and an empty call") {
    val bad = CacheAudit(spark)(
      "double cache" -> (() => {
        val df = spark.range(5).toDF("id")
        df.persist(); df.persist()
      }),
      "empty" -> (() => spark.range(0).toDF("id")))
    spark.catalog.clearCache()
    assert(bad.toSet == Set("double cache left a Dataset cached",
      "double cache logged: Asked to cache already cached data.",
      "empty returned no rows"), bad.mkString("; "))
  }

  test("Owned: payload frames take a block cut, narrow frames a columnar cache; all released, also on a throw") {
    import spark.implicits._
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache()
    def blockRdd(df: DataFrame) =
      df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }.head
    var narrow: DataFrame = null
    var wide: DataFrame = null
    val err = intercept[IllegalStateException] {
      Owned { own =>
        narrow = own.reuse(spark.range(100).toDF("id"))
        wide = own.reuse(spark.range(100).select($"id", array($"id").as("xs")))
        assert(narrow.storageLevel == StorageLevel.MEMORY_AND_DISK)
        assert(wide.storageLevel == StorageLevel.NONE) // not a cache-manager entry
        assert(narrow.count() == 100 && wide.count() == 100)
        assert(spark.sparkContext.getPersistentRDDs.contains(blockRdd(wide).id))
        throw new IllegalStateException("body failed")
      }
    }
    assert(err.getMessage == "body failed")
    assert(cache.isEmpty, "the columnar entry outlived its scope")
    assert(!spark.sparkContext.getPersistentRDDs.contains(blockRdd(wide).id),
      "the block entry outlived its scope")
    // binary payloads are block cuts too
    Owned { own =>
      val bytes = own.reuse(spark.range(3).select(col("id").cast("string").cast("binary")))
      assert(bytes.storageLevel == StorageLevel.NONE && bytes.count() == 3)
    }
    assert(cache.isEmpty)
  }

  test("source rule: no file in src/main/scala but Owned calls persist, unpersist or cache") {
    val root = Paths.get("src/main/scala")
    val owner = root.resolve("graft/core/Owned.scala")
    val calls = Seq(".persist(", ".unpersist(", ".cache()")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != owner).toSeq
    assert(files.size > 50, s"only ${files.size} sources under $root")
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      c <- calls if line.contains(c)
    } yield s"$f:${i + 1}: $c"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("GraphOps: every graph operator, both components placements") {
    import spark.implicits._
    val ids = spark.range(64).toDF("id")
    val edges = ids.select($"id".as("src"), (($"id" * 2 + 1) % 64).as("dst"))
      .unionByName(ids.select($"id".as("src"), (($"id" * $"id" + 7) % 64).as("dst")))
    audit(
      "components" -> (() => GraphOps.components(edges, "src", "dst")),
      "components budget=0" -> (() =>
        DriverGate.withBudget(0)(GraphOps.components(edges, "src", "dst"))),
      "minLabelComponents" -> (() => GraphOps.minLabelComponents(edges, "src", "dst")),
      "pageRank" -> (() => GraphOps.pageRank(edges, "src", "dst", iters = 3)),
      "personalizedPageRank" -> (() =>
        GraphOps.personalizedPageRank(edges, "src", "dst", Seq(1L, 2L), iters = 3)),
      "bfsDistances" -> (() => GraphOps.bfsDistances(edges, "src", "dst", Seq(0L, 5L))),
      "triangleCounts" -> (() => GraphOps.triangleCounts(edges, "src", "dst")),
      "kCore" -> (() => GraphOps.kCore(edges, "src", "dst", 2)))
  }

  test("Vectorize: polygons and component stats, both placements") {
    val ref = Synth.gridARef
    val blocky = TileOps.tileGrid(spark, ref, 6)(Synth.blockyValue)
    audit(
      "polygons" -> (() => Vectorize.polygons(blocky, ref, 6)),
      "polygons budget=0" -> (() =>
        DriverGate.withBudget(0)(Vectorize.polygons(blocky, ref, 6))),
      "componentStats" -> (() => Vectorize.componentStats(blocky, ref, 6)),
      "componentStats budget=0" -> (() =>
        DriverGate.withBudget(0)(Vectorize.componentStats(blocky, ref, 6))))
  }

  test("CostDistance, CellOps and both pyramids") {
    import spark.implicits._
    val ref = Synth.demRef
    val tiles = TileOps.tileGrid(spark, ref, 6)(Synth.demValue)
    val cells = (0 until 16).flatMap(x => (0 until 16).map(y =>
      graft.core.CellId.encode(0, x.toLong, y.toLong))).toDF("cell")
    val vals = (for (r <- 0 until 37; c <- 0 until 29) yield (r, c, (r * 7 + c).toLong))
      .toDF("row", "col", "q")
    audit(
      "accumulate" -> (() => CostDistance.accumulate(tiles, ref, 6, _ >= 240.0)),
      "backlink" -> (() => CostDistance.backlink(tiles, ref, 6, _ >= 240.0)),
      "leastCostPath" -> (() => CostDistance.leastCostPath(tiles, ref, 6, _ >= 240.0, 200, 150)),
      "compactCells" -> (() => CellOps.compactCells(cells, "cell")),
      "uncompactCells" -> (() =>
        CellOps.uncompactCells(CellOps.compactCells(cells, "cell"), "cell", 0)),
      "Pyramid.build" -> (() => Pyramid.build(vals, levels = 3)),
      "tilePyramidPng" -> (() => Raster.fromGrid(spark, GridRef(64, 64, 0, 0, 1), 5)(
        (r, c) => ((r * 31 + c * 17) % 251).toDouble).tilePyramidPng(levels = 3, 0, 251)))
  }

  test("TextOps: near-dup pairs, Bloom dedup and BPE, both BPE placements") {
    import spark.implicits._
    val docs = (0 until 200).map { i =>
      (i.toLong, if (i % 3 == 0) s"the same old text ${i % 20}" else s"a unique text number $i")
    }.toDF("doc_id", "text")
    val hashed = docs.select($"doc_id", xxhash64($"text").as("simhash"))
    val signed = docs.withColumn("sig", md5($"text"))
    val corpus = signed.filter($"doc_id" % 2 === 0)
    val incoming = signed.filter($"doc_id" % 2 === 1).select($"doc_id", $"sig")
    audit(
      "simhashNearPairs" -> (() => TextOps.simhashNearPairs(hashed, maxHamming = 6)),
      "incrementalDedupBloom" -> (() => TextOps.incrementalDedupBloom(incoming, corpus,
        "sig", expectedItems = 1000L, fpp = 0.01)),
      "jaccardPairs" -> (() => TextOps.jaccardPairs(docs, "doc_id", "text")),
      "minhashLshPairs" -> (() => TextOps.minhashLshPairs(docs, "doc_id", "text")),
      "bpeLearnMerges" -> (() => TextOps.bpeLearnMerges(docs, "text", nMerges = 4)),
      "bpeLearnMerges budget=0" -> (() =>
        DriverGate.withBudget(0)(TextOps.bpeLearnMerges(docs, "text", nMerges = 4))))
  }

  test("Similarity and Batching") {
    import spark.implicits._
    val vecs = (0 until 64).map { i =>
      (i.toLong, Array.tabulate(8)(d => (if (d % 4 == i % 4) 10f else 0f) + (i % 5) * 0.1f))
    }.toDF("vid", "v")
    audit(
      "kmeansWithCentroids" -> (() => {
        val (assigned, centroids) = Similarity.kmeansWithCentroids(spark, vecs, "vid", "v", 4, 2)
        assigned.unionByName(centroids.select($"cl".cast("long").as("vid"), $"cl"))
      }),
      "pqTrain" -> (() => Similarity.pqTrain(spark, vecs, "vid", "v", 2, 4, 2)),
      "semDedup" -> (() => Similarity.semDedup(spark, vecs, 4, 2, 0.99)),
      "mixtureInterleave" -> (() => Batching.mixtureInterleave(Seq(
        ("A", (0 until 23).map(i => s"a$i").toDF("id"), 2),
        ("B", (0 until 9).map(i => s"b$i").toDF("id"), 1)), "id")))
  }

  test("IceLite: upsert, deleteRows and deleteRange") {
    import spark.implicits._
    val table = Files.createTempDirectory("icelite-audit").toString
    IceLite.commitResumable(spark, TileOps.tileGrid(spark, Synth.demRef, 6)(Synth.demValue),
      table, buckets = 4, snap = 1L)
    val ids = IceLite.read(spark, table, 1L).collect().map(_.cellId).sorted
    audit(
      "upsert" -> (() => IceLite.upsert(spark, table, IceLite.read(spark, table, 1L)
        .filter(t => t.cellId == ids.head).map(t => t.copy(payload = t.payload.map(_ + 1.0))))),
      "deleteRows" -> (() =>
        IceLite.deleteRows(spark, table, Seq(ids.last).toDF("cellId"))),
      "deleteRange" -> (() => IceLite.deleteRange(spark, table, ids(1), ids(1))))
  }

  test("Knn and Flow leave no cache or block cut once the caller releases the result") {
    import spark.implicits._
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val sc = spark.sparkContext
    // read the result, then release the cuts its plan reads, as a caller
    // does; nothing else the call made may stay registered
    def leftBehind(name: String, call: => DataFrame): Seq[String] = {
      spark.catalog.clearCache()
      val before = sc.getPersistentRDDs.keySet
      val df = call
      val rows = df.count()
      df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
        .foreach(_.unpersist(blocking = true))
      val kept = sc.getPersistentRDDs.keySet -- before
      (if (rows == 0) Seq(s"$name returned no rows") else Nil) ++
        (if (cache.isEmpty) Nil else Seq(s"$name left a Dataset cached")) ++
        (if (kept.isEmpty) Nil else Seq(s"$name left block cuts ${kept.toSeq.sorted}"))
    }
    val dense = spark.createDataset(Synth.knnPoints.map(p => PtRec(p._1, p._2, p._3, p._4)))
    // two far-apart points: nearly every cell escalates, to the exhaustive ring
    val sparse = Seq(PtRec(0L, -4.75, 0.25, 1.0), PtRec(1L, 55.25, 29.75, 2.0)).toDS()
    val ref = Synth.demRef
    val tiles = TileOps.tileGrid(spark, ref, 6)(Synth.demValue)
    val bad =
      leftBehind("nearestBucketed", Knn.nearestBucketed(spark, dense, Synth.knnRef, res = 5)) ++
        leftBehind("nearestBucketed escalating",
          Knn.nearestBucketed(spark, sparse, Synth.knnRef, res = 5)) ++
        leftBehind("flowAcc", Flow.flowAcc(tiles, ref, 6)) ++
        leftBehind("downstream", Flow.downstream(tiles, ref, 6))
    assert(bad.isEmpty, bad.mkString("; "))
  }
}
