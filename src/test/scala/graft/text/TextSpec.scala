package graft.text

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.array_sort
import org.scalatest.funsuite.AnyFunSuite
import graft.core.DriverGate

class TextSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("simhash: identical texts collide, near texts are hamming-near") {
    val a = TextOps.simhash64("the quick brown fox jumps over the lazy dog")
    val b = TextOps.simhash64("the quick brown fox jumps over the lazy dog")
    val c = TextOps.simhash64("the quick brown fox jumps over the lazy cat")
    val d = TextOps.simhash64("completely different words entirely here now")
    assert(a == b)
    assert(TextOps.hamming64(a, c) < TextOps.hamming64(a, d))
  }

  test("fingerprint: order-sensitive, whitespace-run-normalized") {
    assert(TextOps.fingerprint("a b c") == TextOps.fingerprint("a  b   c"))
    assert(TextOps.fingerprint("a b c") != TextOps.fingerprint("c b a"))
    assert(TextOps.fingerprint("") == 0L)
  }

  test("langId picks marker-majority language; und when none") {
    import spark.implicits._
    val df = Seq(
      (1L, "we saw the cat and the dog of it all"),
      (2L, "der hund und die katze und der vogel"),
      (3L, "el gato y los perros que corren"),
      (4L, "le chat et les chiens et le chien"),
      (5L, "nothing matching here at all")).toDF("id", "text")
    val got = df.select($"id", TextOps.langId($"text").as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "en", 2L -> "de", 3L -> "es", 4L -> "fr", 5L -> "und"))
  }

  test("langId: NULL text -> NULL label, not a spurious language") {
    import spark.implicits._
    val df = Seq((1L, Option("le chat et les")), (2L, Option.empty[String]))
      .toDF("id", "text")
    val got = df.select($"id", TextOps.langId($"text").as("l"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got == Map(1L -> Some("fr"), 2L -> None))
  }

  test("simhashNearPairs maxHamming=0: exact simhash duplicates found " +
      "(64-bit chunk mask must be all-ones, not (1L<<64)-1 == 0)") {
    import spark.implicits._
    val hashed = Seq((1L, 0x0123456789ABCDEFL), (2L, 0x0123456789ABCDEFL),
      (3L, 0x7EDCBA9876543210L), (4L, 0x7EDCBA9876543210L),
      (5L, 0x5555AAAA5555AAAAL)).toDF("doc_id", "simhash")
    val pairs = TextOps.simhashNearPairs(hashed, maxHamming = 0)
      .select("ia", "ib").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (3L, 4L)))
    intercept[IllegalArgumentException] {
      TextOps.simhashNearPairs(hashed, maxHamming = -1)
    }
  }

  test("minhashLshPairs rejects band configs that would explode or drop slots") {
    import spark.implicits._
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      TextOps.minhashLshPairs(docs, "doc_id", "text", k = 8, bands = 16)
    }
    intercept[IllegalArgumentException] {
      TextOps.minhashLshPairs(docs, "doc_id", "text", k = 64, bands = 12)
    }
  }

  test("simhash pigeonhole banding == all-pairs hamming join (sf0.001)") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val hashed = docs.select($"doc_id", $"text").as[(Long, String)]
      .map { case (id, t) => (id, TextOps.simhash64(t)) }
      .toDF("doc_id", "simhash")
    val banded = TextOps.simhashNearPairs(hashed, maxHamming = 6)
      .select("ia", "ib", "hamming").as[(Long, Long, Int)].collect().toSet
    val all = hashed.as("a").join(hashed.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id", $"a.simhash", $"b.simhash")
      .as[(Long, Long, Long, Long)]
      .map { case (ia, ib, ha, hb) => (ia, ib, TextOps.hamming64(ha, hb)) }
      .filter(_._3 <= 6).collect().toSet
    assert(banded == all)
    assert(banded.nonEmpty) // fixture has near-dup pairs
    // plan shape: no BroadcastNestedLoopJoin (the cartesian scale-killer)
    val plan = TextOps.simhashNearPairs(hashed, 6).queryExecution.executedPlan
    assert(!plan.toString.contains("BroadcastNestedLoopJoin"))
  }

  test("simhash df-cap defuses a degenerate shared-chunk key (1e4 docs)") {
    import spark.implicits._
    // 100 groups x 100 docs; every doc's LOW chunk (bits 0..9) is zero —
    // one (ci, cv) key shared by ALL 1e4 docs, which uncapped would put
    // C(1e4,2) ~ 5e7 candidate rows on a single join key. Group hashes are
    // splitmix-scrambled so distinct groups are FAR apart (asserted), and
    // within-group docs are identical: every true pair agrees on the
    // group's (rare, df=100) high chunks, so the cap costs zero recall.
    def scramble(g: Long): Long = {
      var z = g * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      (z ^ (z >>> 31)) & ~0x3FFL // clear bits 0..9 -> shared hot chunk
    }
    val groupHash = (0 until 100).map(g => scramble(g.toLong)).toArray
    for (i <- 0 until 100; j <- i + 1 until 100)
      assert(TextOps.hamming64(groupHash(i), groupHash(j)) > 6)
    val hashed = spark.range(10000)
      .select($"id".as("doc_id"))
      .as[Long].map(i => (i, groupHash((i / 100).toInt)))
      .toDF("doc_id", "simhash")
    val n = TextOps.simhashNearPairs(hashed, maxHamming = 6, dfCap = 1000).count()
    assert(n == 100L * (100L * 99L / 2L)) // within-group pairs only
  }

  test("minhash LSH recall: candidates cover ALL exact-Jaccard>=0.8 pairs (sf0.001)") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val lsh = TextOps.minhashLshPairs(docs, "doc_id", "text",
        shingleN = 3, k = 64, bands = 16, threshold10 = 8)
      .select("ia", "ib").as[(Long, Long)].collect().toSet
    // exact pairs via the same inverted-index shape (the d3 query logic)
    val sh = docs.select($"doc_id", TextOps.tokens($"text").as("w"))
      .select($"doc_id",
        org.apache.spark.sql.functions.explode(
          org.apache.spark.sql.functions.array_distinct(
            TextOps.wordShingles($"w", 3))).as("sh"))
    val sizes = sh.groupBy($"doc_id").count().withColumnRenamed("count", "sz")
    val exact = sh.as("a").join(sh.as("b"),
        $"a.sh" === $"b.sh" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("ia"), $"b.doc_id".as("ib"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("c"))
      .join(sizes.toDF("ia", "sza"), "ia")
      .join(sizes.toDF("ib", "szb"), "ib")
      .filter($"c" * 10 >= org.apache.spark.sql.functions.lit(8) * ($"sza" + $"szb" - $"c"))
      .select("ia", "ib").as[(Long, Long)].collect().toSet
    assert(exact.subsetOf(lsh), s"LSH missed ${(exact -- lsh).size} true pairs")
    // and LSH verification keeps only true pairs
    assert(lsh == exact)
  }

  test("gradient stencil matches direct whole-grid computation") {
    import spark.implicits._
    import graft.corpus.Synth
    import graft.operators.{Stencil, TileOps}
    val dem = TileOps.tileGrid(spark, Synth.demRef, 6)(Synth.demValue)
    val got = Stencil.hornGradient(dem, Synth.demRef, 6)
      .as[(Int, Int, Double, Double)].collect()
      .map(t => (t._1, t._2) -> (t._3, t._4)).toMap
    // single-threaded oracle: same formula straight off the value function
    val ref = Synth.demRef
    var checked = 0
    for (r <- 1 until ref.nrows - 1; c <- 1 until ref.ncols - 1) {
      val v = Array(
        Synth.demValue(r - 1, c - 1), Synth.demValue(r - 1, c), Synth.demValue(r - 1, c + 1),
        Synth.demValue(r, c - 1), Synth.demValue(r, c), Synth.demValue(r, c + 1),
        Synth.demValue(r + 1, c - 1), Synth.demValue(r + 1, c), Synth.demValue(r + 1, c + 1))
      if (v.forall(x => !x.isNaN)) {
        val gx = ((v(2) + 2 * v(5) + v(8)) - (v(0) + 2 * v(3) + v(6))) / 40.0
        val gy = ((v(0) + 2 * v(1) + v(2)) - (v(6) + 2 * v(7) + v(8))) / 40.0
        assert(got((r, c)) == ((gx, gy)), s"at ($r,$c)")
        checked += 1
      } else assert(!got.contains((r, c)))
    }
    assert(checked > 25000)
  }

  test("terrain indices (TPI/TRI) match direct whole-grid computation") {
    import spark.implicits._
    import graft.corpus.Synth
    import graft.operators.{Stencil, TileOps}
    val dem = TileOps.tileGrid(spark, Synth.demRef, 6)(Synth.demValue)
    val got = Stencil.terrainIndices(dem, Synth.demRef, 6)
      .as[(Long, Long, Double, Double)].collect()
      .map(t => (t._1.toInt, t._2.toInt) -> (t._3, t._4)).toMap
    val ref = Synth.demRef
    def at(r: Int, c: Int): Double =
      if (r < 0 || r >= ref.nrows || c < 0 || c >= ref.ncols) Double.NaN
      else Synth.demValue(r, c)
    var checked = 0
    for (r <- 0 until ref.nrows; c <- 0 until ref.ncols) {
      val z = at(r, c)
      if (!z.isNaN) {
        val nbs = for {
          dr <- -1 to 1; dc <- -1 to 1 if dr != 0 || dc != 0
          zn = at(r + dr, c + dc) if !zn.isNaN
        } yield zn
        if (nbs.nonEmpty) {
          val tpi = z - nbs.sum / nbs.size
          val tri = math.sqrt(nbs.map(zn => (z - zn) * (z - zn)).sum)
          assert(got((r, c)) == ((tpi, tri)), s"at ($r,$c)")
          checked += 1
        } else assert(!got.contains((r, c)))
      } else assert(!got.contains((r, c)))
    }
    assert(checked == got.size && checked > 30000)
  }

  test("ZT curvature stencil matches direct whole-grid computation") {
    import spark.implicits._
    import graft.corpus.Synth
    import graft.operators.{Stencil, TileOps}
    val dem = TileOps.tileGrid(spark, Synth.demRef, 6)(Synth.demValue)
    val got = Stencil.curvature(dem, Synth.demRef, 6)
      .as[(Long, Long, Double, Double, Double)].collect()
      .map(t => (t._1.toInt, t._2.toInt) -> ((t._3, t._4, t._5))).toMap
    val ref = Synth.demRef
    val cs = ref.cellsize
    var checked = 0
    for (r <- 1 until ref.nrows - 1; c <- 1 until ref.ncols - 1) {
      val v = Array(
        Synth.demValue(r - 1, c - 1), Synth.demValue(r - 1, c), Synth.demValue(r - 1, c + 1),
        Synth.demValue(r, c - 1), Synth.demValue(r, c), Synth.demValue(r, c + 1),
        Synth.demValue(r + 1, c - 1), Synth.demValue(r + 1, c), Synth.demValue(r + 1, c + 1))
      if (v.forall(x => !x.isNaN)) {
        val dd = ((v(3) + v(5)) / 2 - v(4)) / (cs * cs)
        val ee = ((v(1) + v(7)) / 2 - v(4)) / (cs * cs)
        val ff = (-v(0) + v(2) + v(6) - v(8)) / (4 * cs * cs)
        val gg = (-v(3) + v(5)) / (2 * cs)
        val hh = (v(1) - v(7)) / (2 * cs)
        val den = gg * gg + hh * hh
        val curv = -2 * (dd + ee)
        val prof = if (den == 0) 0.0 else 2 * (dd * gg * gg + ee * hh * hh + ff * gg * hh) / den
        val plan = if (den == 0) 0.0 else -2 * (dd * hh * hh + ee * gg * gg - ff * gg * hh) / den
        assert(got((r, c)) == ((curv, prof, plan)), s"at ($r,$c)")
        checked += 1
      } else assert(!got.contains((r, c)))
    }
    assert(checked > 25000)
    // sanity of the fitted surface: a pure plane has zero curvature
    val planeRef = graft.core.GridRef(16, 16, 0.0, 0.0, 1.0)
    val plane = TileOps.tileGrid(spark, planeRef, 6)((r, c) => 3.0 * r - 2.0 * c + 5)
    val pc = Stencil.curvature(plane, planeRef, 6)
      .as[(Long, Long, Double, Double, Double)].collect()
    assert(pc.nonEmpty && pc.forall(t => t._3 == 0.0 && t._4 == 0.0 && t._5 == 0.0))
  }

  test("aspect octants: gradient-aligned synthetic slopes land in the right sector") {
    import spark.implicits._
    import graft.corpus.Synth
    import graft.operators.{Stencil, TileOps}
    // plane dipping to the east: z = -x -> downslope (-grad) points east
    val ref = graft.core.GridRef(16, 16, 0.0, 0.0, 1.0)
    def check(f: (Int, Int) => Double, want: String): Unit = {
      val t = TileOps.tileGrid(spark, ref, 6)(f)
      val rows = Stencil.aspectClass(t, ref, 6).select("compass").distinct()
        .as[String].collect()
      assert(rows.toSeq == Seq(want), s"want $want got ${rows.toSeq}")
    }
    check((r, c) => c.toDouble, "W")        // z rises east -> downslope west
    check((r, c) => -c.toDouble, "E")
    check((r, c) => r.toDouble, "N")        // z rises south -> downslope north
    check((r, c) => -r.toDouble, "S")
    check((r, c) => (r + c).toDouble, "NW") // exact diagonal -> NW sector
    check((r, c) => 7.0, "FLAT")
    // consistency with the flat/steep structure of the DEM fixture
    val dem = TileOps.tileGrid(spark, Synth.demRef, 6)(Synth.demValue)
    val a = Stencil.aspectClass(dem, Synth.demRef, 6)
    assert(a.filter($"octant" < -1 || $"octant" > 7).count() == 0)
    assert(a.filter($"tan2_slope" < 0).count() == 0)
  }

  test("maxRunLength / dupOccurrences == direct multiplicity math (d11 kernels)") {
    import spark.implicits._
    // seeded random word arrays, skewed so runs of every length appear
    val docs = (0 until 200).map { i =>
      val rnd = new scala.util.Random(i * 7919 + 13)
      val n = rnd.nextInt(40)
      (i.toLong, Array.fill(n)("w" + rnd.nextInt(1 + n / 3)).toSeq)
    }
    val df = spark.createDataset(docs).toDF("id", "arr")
    val got = df.select($"id",
        TextOps.maxRunLength(array_sort($"arr")).as("mx"),
        TextOps.dupOccurrences(array_sort($"arr")).as("dup"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    docs.foreach { case (id, arr) =>
      val m = arr.groupBy(identity).view.mapValues(_.size)
      val mx = if (m.isEmpty) 0L else m.values.max.toLong
      val dup = m.values.filter(_ >= 2).sum.toLong
      assert(got(id) == ((mx, dup)), s"doc $id")
    }
  }

  test("perceptual corpus (i4): decoded phash == stored == integer bit rule; " +
    "banded pairs == brute; heavy plants excluded") {
    import spark.implicits._
    import graft.corpus.ImageCorpus
    import graft.codecs.ImageCodec
    val n = 1024
    val rows = ImageCorpus.generatePerceptual(spark, n.toLong).collect()
      .sortBy(_.image_id)
    // 1) decode-path exactness + the pure-integer bit rule the SQL oracle uses
    val hashes = rows.map { r =>
      val (px, w, h) = ImageCodec.decode(r.bytes, r.fmt)
      val dec = ImageCodec.phash64(px, w, h)
      assert(dec == r.phash, s"${r.image_id}: decoded phash != stored")
      val i = r.image_id.stripPrefix("img-").toLong
      val ks = Array.tabulate(64)(b => ImageCorpus.perceptualCode(i, b))
      val tot = ks.sum
      var expect = 0L
      for (b <- 0 until 64) if (64L * ks(b) > tot) expect |= (1L << b)
      assert(dec == expect, s"${r.image_id}: phash != integer bit rule")
      i -> dec
    }
    // 2) brute-force hamming<=6 pair set == exactly the light plants;
    //    heavy plants (i % 311) land strictly above the gate
    val brute = for {
      (ia, ha) <- hashes; (ib, hb) <- hashes if ia < ib
      d = TextOps.hamming64(ha, hb) if d <= 6
    } yield (ia, ib, d)
    val lights = (1 until n).filter(i => i % 167 == 0).map(i => (i - 1).toLong -> i.toLong)
    assert(brute.map(p => (p._1, p._2)).toSet == lights.toSet)
    assert(brute.forall(p => p._3 >= 1 && p._3 <= 6))
    (1 until n).filter(i => i % 311 == 0).foreach { i =>
      val d = TextOps.hamming64(hashes(i - 1)._2, hashes(i)._2)
      assert(d > 6 && d <= 20, s"heavy plant $i hamming $d not a near-miss")
    }
    // 3) the banded join finds exactly the brute pair set
    val sig = spark.createDataset(hashes.toSeq).toDF("doc_id", "simhash")
    val banded = TextOps.simhashNearPairs(sig, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded == brute.toSet)
  }

  test("incrementalDedupBloom == plain anti-join; bloom never false-negative") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // mix: i % 3 == 0 docs repeat a 25-cycle (true dups across the
    // even/odd split), the rest are unique (exercise the bloom-negative
    // skip path); a 1% fpp filter over 400 rows will also throw a few
    // false positives at the verify join
    val docs = (0 until 400).map { i =>
      (i.toLong, if (i % 3 == 0) s"dup${i % 25}" else s"uniq$i")
    }
    val df = spark.createDataset(docs).toDF("doc_id", "text")
      .withColumn("sig", md5($"text"))
    val corpus = df.filter($"doc_id" % 2 === 0)
    val incoming = df.filter($"doc_id" % 2 === 1).select($"doc_id", $"sig")
    val got = TextOps.incrementalDedupBloom(incoming, corpus, "sig",
        expectedItems = 1000L, fpp = 0.01)
      .select("doc_id").as[Long].collect().toSet
    val index = corpus.select($"sig").distinct()
    val want = incoming.join(index, Seq("sig"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    assert(want.nonEmpty && want.size < 200, "fixture must mix dups and new")
    assert(got == want)
    // bloom property the mechanism rests on: every true dup is positive
    val bloom = index.stat.bloomFilter("sig", 1000L, 0.01)
    val trueDups = incoming.join(index, Seq("sig"), "left_semi")
      .select("sig").as[String].collect()
    assert(trueDups.nonEmpty)
    trueDups.foreach(sg => assert(bloom.mightContainString(sg),
      s"false negative for $sg"))
  }

  test("chunkTokens: full coverage, overlap, tail, md5 key semantics") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 3 shapes: shorter than one chunk (1 chunk), exact multiple of
    // stride (tail chunk of length chunkSize - ... ), long doc (many
    // chunks); plus an empty/whitespace doc that must vanish
    val docs = Seq(
      (1L, (0 until 5).map(i => s"w$i").mkString(" ")),
      (2L, (0 until 24).map(i => s"x$i").mkString(" ")),
      (3L, (0 until 100).map(i => s"y$i").mkString("  ")), // double spaces
      (4L, "   ")).toDF("doc_id", "text")
    val out = TextOps.chunkTokens(docs, "doc_id", "text",
      chunkSize = 8, stride = 6).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getString(4)))
      .sortBy(t => (t._1, t._2))
    // doc 4 gone entirely
    assert(!out.exists(_._1 == 4L))
    // doc 1: 5 tokens < chunkSize -> exactly 1 chunk of n_tok 5
    val c1 = out.filter(_._1 == 1L)
    assert(c1.toSeq == Seq((1L, 0, 0, 5, c1.head._5)))
    // doc 2: 24 tokens, stride 6 -> starts 0,6,12,18 -> n_tok 8,8,8,6
    val c2 = out.filter(_._1 == 2L)
    assert(c2.map(_._3).toSeq == Seq(0, 6, 12, 18))
    assert(c2.map(_._4).toSeq == Seq(8, 8, 8, 6))
    // doc 3: 100 tokens -> ceil coverage: starts 0,6,...,96; last n_tok 4
    val c3 = out.filter(_._1 == 3L)
    assert(c3.map(_._3).toSeq == (0 to 96 by 6).toSeq)
    assert(c3.last._4 == 4)
    // every token index covered by at least one chunk; adjacent chunks
    // overlap by chunkSize - stride = 2
    val covered = c3.flatMap(c => c._3 until (c._3 + c._4)).toSet
    assert(covered == (0 until 100).toSet)
    // md5 key equals md5 of the literal window text
    val w = (0 until 8).map(i => s"y$i").mkString(" ")
    val wantMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(w.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(c3.head._5 == wantMd5)
    // identical windows across different docs share the dedup key
    val twin = Seq((9L, (0 until 8).map(i => s"y$i").mkString(" ")))
      .toDF("doc_id", "text")
    val tOut = TextOps.chunkTokens(twin, "doc_id", "text", 8, 6).collect()
    assert(tOut.head.getString(4) == c3.head._5)
    // guard rails
    intercept[IllegalArgumentException] {
      TextOps.chunkTokens(docs, "doc_id", "text", 8, 0) }
    intercept[IllegalArgumentException] {
      TextOps.chunkTokens(docs, "doc_id", "text", 8, 9) }
  }

  test("bpeLearnMerges: overlap counting, greedy merge, second-order fuse") {
    import spark.implicits._
    // corpus: "aaaa" x2, "ab" x3.
    // round 1: (a,a) counts 3 pairs/word x2 = 6 (OVERLAPPING), beats
    //   (a,b) = 3 -> merge (a,a); greedy: aaaa -> [aa, aa] (NOT 3 fusions)
    // round 2: (aa,aa) = 2 < (a,b) = 3 -> merge (a,b)
    // round 3: (aa,aa) = 2 -> the second-order fuse of round 1 products
    // round 4: no pairs left -> learning stops early at 3 merges
    val docs = Seq("aaaa aaaa ab", "ab ab").toDF("text")
    val got = TextOps.bpeLearnMerges(docs, "text", nMerges = 6)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3))).sortBy(_._1).toSeq
    assert(got == Seq((1, "a", "a", 6L), (2, "a", "b", 3L),
      (3, "aa", "aa", 2L)))
    // greedy kernel directly: scan resumes after a fusion
    assert(TextOps.bpeApplyMerge(Array("a", "a", "a"), "a", "a").toSeq
      == Seq("aa", "a"))
    assert(TextOps.bpeApplyMerge(Array("a", "a", "a", "a"), "a", "a").toSeq
      == Seq("aa", "aa"))
    assert(TextOps.bpeApplyMerge(Array("x", "a", "b", "y"), "a", "b").toSeq
      == Seq("x", "ab", "y"))
    intercept[IllegalArgumentException] {
      TextOps.bpeLearnMerges(docs, "text", 0) }
  }

  test("bpeLearnMerges: the vocabulary is gated by its driver heap") {
    import spark.implicits._
    val docs = Seq("ab abc ab").toDF("text")
    val bytes = TextOps.bpeWordBytes(2) + TextOps.bpeWordBytes(3)
    def labels(budget: Long) = org.apache.spark.JobDescriptions(spark.sparkContext) {
      DriverGate.withBudget(budget)(TextOps.bpeLearnMerges(docs, "text", 1).collect())
    }._2
    val op = "TextOps.bpeLearnMerges vocab"
    assert(labels(bytes).contains(s"$op: driver placement ($bytes bytes)"))
    assert(!labels(bytes - 1).exists(_.startsWith(s"$op: driver")))
    // 2M six-symbol words, the former row limit, stay off the
    // driver at any heap: the budget is at most maxResultSize (1g default)
    assert(!DriverGate.fits(spark, op, 2000001L * TextOps.bpeWordBytes(6)))
  }

  test("bpeLearnMerges: 64+ merges cost O(1) jobs driver-side; == distributed path") {
    import spark.implicits._
    // a corpus rich enough to sustain >= 64 merges: 40 distinct long
    // pseudo-words with skewed frequencies
    val words = (0 until 40).map { i =>
      val w = (0 until 12).map(j => ('a' + ((i * 7 + j * j) % 26)).toChar).mkString
      Seq.fill(1 + i % 7)(w).mkString(" ")
    }
    val docs = words.toDF("text")
    // job counter: the driver-side learn must cost a CONSTANT number of
    // jobs (the fold + collect), not one per merge round (VERDICT r4 #6)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val got =
      try {
        val g = TextOps.bpeLearnMerges(docs, "text", nMerges = 64)
          .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
            r.getLong(3))).sortBy(_._1).toSeq
        Thread.sleep(500) // let queued listener events drain
        g
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(got.size >= 64, s"corpus exhausted at ${got.size} merges")
    assert(jobs.get() <= 8,
      s"driver-side learn ran ${jobs.get()} jobs for 64 merges — " +
        "should be O(1), not O(merges)")
    // identical semantics on the distributed over-budget path (forced by
    // a zero budget), checked on a prefix to keep job count sane
    val dist = DriverGate.withBudget(0) {
      TextOps.bpeLearnMerges(docs, "text", nMerges = 8).collect()
    }.map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3))).sortBy(_._1).toSeq
    assert(dist == got.take(8), "distributed path must learn the same merges")
  }

  test("bpeLearnMerges: non-BMP ties break identically on both paths") {
    import spark.implicits._
    // Atoms are UTF-16 code units, so U+1F600 starts as two lone
    // surrogates — which the UTF8String round-trip through the vocab
    // Dataset replaces with '?' (JDK UTF-8 encoder replacement) on BOTH
    // branches. That mangling is what makes JVM UTF-16 order and UTF-8
    // byte order agree for every reachable symbol (surrogate-free
    // strings order identically in both); the driver tie-break
    // nonetheless compares UTF-8 BYTES (TextOps.utf8Cmp) so the
    // agreement is by construction, not by the mangling accident.
    // Counts tie 3-way in round 1, 2-way in rounds 2-3.
    val docs = Seq("\uD83D\uDE00a \uE000b").toDF("text")
    def learn() =
      TextOps.bpeLearnMerges(docs, "text", nMerges = 3)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getLong(3))).sortBy(_._1).toSeq
    val driver = learn()
    val dist = DriverGate.withBudget(0)(learn())
    assert(driver == dist,
      s"branch divergence on tie: driver=$driver dist=$dist")
    // ("?","?") beats ("?","a") beats ("\uE000","b") in UTF-8 byte order
    assert(driver.map(m => (m._2, m._3)) ==
      Seq(("?", "?"), ("??", "a"), ("\uE000", "b")), driver.toString)
  }

  test("bpeEncode: rank-ordered greedy application + stream md5") {
    import spark.implicits._
    // merges learned on the fixture above: (a,a), (a,b), (aa,aa)
    val merges = Seq(("a", "a"), ("a", "b"), ("aa", "aa"))
    val docs = Seq((1L, "aaaa ab"), (2L, "aab ba"), (3L, " ")).toDF("doc_id", "text")
    val got = TextOps.bpeEncode(docs, "doc_id", "text", merges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1).toSeq
    // doc 1: aaaa -> [aa,aa] -> [aaaa]; ab -> [ab]  => tokens aaaa|ab
    // doc 2: aab -> [aa,b] ((a,a) fires first, leaving no (a,b));
    //        ba -> [b,a]                            => aa|b|b|a
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got == Seq((1L, 2L, md5("aaaa|ab")), (2L, 4L, md5("aa|b|b|a"))))
  }

  test("packContiguous: distributed prefix sum == driver cumsum across >1 partition") {
    import spark.implicits._
    // 5000 docs with varying token counts; local[4] range partitioner
    // gives several partitions, so the subtotal/offset path is exercised
    val docs = (0L until 5000L).map(i => (i, (i % 37) + 1)).toDF("doc_id", "n_tok")
    val got = TextOps.packContiguous(docs, "doc_id", "n_tok", 128,
        partitions = 8)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    var run = 0L
    (0L until 5000L).zip(got).foreach { case (i, (id, n, start, fs, ls)) =>
      assert(id == i && n == (i % 37) + 1)
      assert(start == run, s"doc $i offset")
      assert(fs == start / 128 && ls == (start + n - 1) / 128)
      run += n
    }
    // a doc straddling a boundary spans two sequences
    assert(got.exists(g => g._5 == g._4 + 1))
    intercept[IllegalArgumentException] {
      TextOps.packContiguous(docs, "doc_id", "n_tok", 0) }
  }

  test("weightedSample: systematic picks == driver scan; heavy docs absorb; zero-weight skipped") {
    import spark.implicits._
    // weights include zeros and one doc heavier than step (absorbs >1
    // sample point but is emitted once)
    val w = (0L until 3000L).map(i =>
      (i, if (i % 11 == 0) 0L else if (i == 1500L) 700L else (i % 37) + 1))
    val docs = w.toDF("doc_id", "n_tok")
    val step = 250L
    val got = TextOps.weightedSample(docs, "doc_id", "n_tok", step,
        partitions = 8)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    // driver oracle: cumulative scan + first-multiple rule
    var run = 0L
    val want = w.flatMap { case (id, n) =>
      val start = run; run += n
      val gap = (step - start % step) % step
      if (n > 0 && gap < n) Some((id, n, start, (start + gap) / step))
      else None
    }
    assert(got.toSeq == want)
    // pick count == number of sample points covered by nonzero intervals
    // (every point lands in exactly one doc; heavy docs collapse picks)
    val totalW = w.map(_._2).sum
    val nPoints = (totalW + step - 1) / step // points 0, step, ... < totalW
    val absorbed = want.count(p => p._2 > step) // heavy docs hold >= 2 points
    assert(want.size <= nPoints && want.size >= nPoints - 2 * absorbed)
    // no zero-weight doc picked; every pick's interval covers its point
    assert(want.forall(_._2 > 0))
    assert(want.forall { case (_, n, start, idx) =>
      idx * step >= start && idx * step < start + n })
    intercept[IllegalArgumentException] {
      TextOps.weightedSample(docs, "doc_id", "n_tok", 0L) }
  }

  test("weightedSampleByGroup: per-group lines == driver scan; missing-step groups drop") {
    import spark.implicits._
    val rows = (0L until 2400L).map { i =>
      (s"g${i % 7}", i, if (i % 13 == 0) 0L else (i % 29) + 1)
    }
    val steps = Map("g0" -> 100L, "g1" -> 250L, "g2" -> 60L, "g3" -> 400L,
      "g4" -> 90L, "g5" -> 1000000L) // g6 absent -> dropped entirely
    val got = TextOps.weightedSampleByGroup(rows.toDF("source", "doc_id", "n_tok"),
        "source", "doc_id", "n_tok", steps, partitions = 8)
      .as[(String, Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    // driver oracle: independent cumulative scan per group, in id order
    val want = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
      steps.get(g).toSeq.flatMap { step =>
        var run = 0L
        rs.sortBy(_._2).flatMap { case (_, id, n) =>
          val start = run; run += n
          val gap = (step - start % step) % step
          if (n > 0 && gap < n) Some((g, id, n, start, (start + gap) / step))
          else None
        }
      }
    }.sortBy(r => (r._1, r._2))
    assert(got.toSeq == want)
    assert(!got.exists(_._1 == "g6")) // no step -> dropped
    // a step larger than a group's total weight picks exactly its first
    // nonzero-weight doc (point 0 lands in it)
    assert(got.count(_._1 == "g5") == 1)
    intercept[IllegalArgumentException] {
      TextOps.weightedSampleByGroup(rows.toDF("source", "doc_id", "n_tok"),
        "source", "doc_id", "n_tok", Map("g0" -> 0L)) }
  }

  test("edJoinLe1: deletion-key pruned == brute all-pairs levenshtein<=1") {
    import spark.implicits._
    // mixed-length vocab with planted typos of every edit kind, repeats,
    // repeated-char words (duplicate deletion variants), and a length-1
    // token (empty-string deletion key)
    val vocab = Seq("alpha", "alpho", "alpa", "aalpha", "beta", "betta",
      "bета", "gamma", "gamm", "gama", "aaaa", "aaa", "x", "y", "xy",
      "delta", "delta", "epsilon", "epsilons", "epsilom").toDF("w")
    val got = TextOps.edJoinLe1(vocab, "w")
      .as[(String, String, Long)].collect().toSet
    // brute oracle over the distinct set
    def ed(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val toks = vocab.as[String].collect().distinct
    val want = (for {
      a <- toks; b <- toks
      if a < b && ed(a, b) <= 1
    } yield (a, b, ed(a, b).toLong)).toSet
    assert(got == want, s"pruned ${got.size} vs brute ${want.size}")
    assert(want.exists(_._3 == 1L), "fixture must contain real ed=1 pairs")
    assert(!got.exists(_._3 == 0L), "distinct tokens never pair at ed=0")
  }

  test("edJoinLe1: candidate generation prunes (index, not all-pairs)") {
    import spark.implicits._
    // two far-apart families: no cross-family pair shares any deletion
    // variant, so candidates << all pairs
    val vocab = (0 until 50).map(i => s"left$i").union(
      (0 until 50).map(i => s"verydifferentright$i")).toDF("w")
    val got = TextOps.edJoinLe1(vocab, "w").as[(String, String, Long)].collect()
    // every surviving pair is within one family (shared prefix length>=4)
    assert(got.forall { case (a, b, _) => a.take(4) == b.take(4) })
    // left0..left9 differ pairwise at the last char -> C(10,2) = 45 pairs,
    // and left10..49 pair with nothing at ed<=1 except left1..left4 digits
    assert(got.nonEmpty)
  }
}
