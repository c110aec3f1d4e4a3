package graft

import graft.functions.Sketches
import org.apache.spark.sql.functions._

/** Sketch invariants: KMV exactness below k, estimator accuracy, exact
  * mergeability; CMS upper-bound + exactness without collisions, grid-wise
  * merge; Misra-Gries superset guarantee; and the narrow plan shapes. */
class SketchesSpec extends SparkSpec {
  private def strs(xs: Seq[String]) = {
    val s = spark
    import s.implicits._
    xs.toDF("v")
  }

  test("KMV with fewer distincts than k IS the distinct hash set; estimate exact") {
    val df = strs((1 to 100).map(i => s"item${i % 20}")) // 20 distinct
    val sk = Sketches.kmvSketch(df, col("v"), k = 64)
    assert(sk.count() == 20)
    assert(Sketches.kmvEstimate(sk, 64) == 20.0)
  }

  test("KMV estimate lands near the true cardinality at n >> k") {
    val df = strs((1 to 20000).map(i => s"u$i"))
    val k = 256
    val est = Sketches.kmvEstimate(Sketches.kmvSketch(df, col("v"), k), k)
    // deterministic given the hash; expected rel-err ~ 1/sqrt(k) ≈ 6%
    assert(math.abs(est - 20000) / 20000 < 0.2, s"est=$est")
  }

  test("KMV merge of shard sketches equals the sketch of the union") {
    val a = strs((1 to 5000).map(i => s"u$i"))
    val b = strs((2500 to 7500).map(i => s"u$i")) // overlapping shards
    val k = 128
    val merged = Sketches.kmvMerge(
      Sketches.kmvSketch(a, col("v"), k), Sketches.kmvSketch(b, col("v"), k), k)
      .collect().map(_.getLong(0)).toSeq
    val direct = Sketches.kmvSketch(a.unionByName(b), col("v"), k)
      .collect().map(_.getLong(0)).toSeq
    assert(merged == direct)
  }

  test("KMV portable mode matches the md5-derived hash definition") {
    val sk = Sketches.kmvSketch(strs(Seq("x")), col("v"), 8, portable = true)
    val h = sk.collect().map(_.getLong(0)).toSeq
    val expect = strs(Seq("x"))
      .select(conv(substring(md5(col("v")), 1, 15), 16, 10).cast("long"))
      .head().getLong(0)
    assert(h == Seq(expect))
  }

  test("per-group KMV equals the per-group exact min-k distinct hashes") {
    val s = spark; import s.implicits._
    // 3 groups: g0 has 10 distinct (< k → sketch IS the distinct set),
    // g1/g2 have 500 each (> k → estimator path); values overlap across
    // groups to pin that state is per-group, not global
    val df = ((1 to 1000).map(i => ("g0", s"v${i % 10}")) ++
      (1 to 500).map(i => ("g1", s"v$i")) ++
      (1 to 500).map(i => ("g2", s"v${i + 250}"))).toDF("g", "v")
    val k = 64
    val sk = Sketches.kmvPerGroup(df, "g", col("v"), k)
    // naive reference: full distinct then per-group k smallest
    val naive = df.select(col("g"),
        greatest(abs(xxhash64(col("v"))), lit(0L)).as("h")).distinct()
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("g")).orderBy(col("h"))))
      .filter(col("rn") <= k).drop("rn")
    assert(sk.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      naive.collect().map(r => (r.getString(0), r.getLong(1))).toSet)
    // partition independence: the sketch is identical at any input layout
    val sk1 = Sketches.kmvPerGroup(df.repartition(13), "g", col("v"), k)
    assert(sk1.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      sk.collect().map(r => (r.getString(0), r.getLong(1))).toSet)
    // estimates: exact for the small group, ~1/sqrt(k) for the big ones
    val est = Sketches.kmvPerGroupEstimate(sk, k).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(est("g0") == ((10L, 10.0)))
    assert(est("g1")._1 == k && math.abs(est("g1")._2 - 500) / 500 < 0.35)
    assert(est("g2")._1 == k && math.abs(est("g2")._2 - 500) / 500 < 0.35)
  }

  test("SketchStore: cycles compose to the sketch of the union; params frozen") {
    val path = java.nio.file.Files.createTempDirectory("kmvstore").toString
    val k = 64
    Sketches // touch
    graft.functions.SketchStore.init(spark, path, k)
    val a = strs((1 to 3000).map(i => s"u$i"))
    val b = strs((2000 to 5000).map(i => s"u$i")) // overlapping increments
    graft.functions.SketchStore.updateCycle(spark, path, 1, a, col("v"))
    val after2 = graft.functions.SketchStore
      .updateCycle(spark, path, 2, b, col("v"))
      .collect().map(_.getLong(0)).toSeq.sorted
    // the stored sketch after two cycles IS the sketch of the full union —
    // history was never re-read, only the k-hash sketch carried over
    val direct = Sketches.kmvSketch(a.unionByName(b), col("v"), k)
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(after2 == direct)
    assert(graft.functions.SketchStore.load(spark, path)
      .collect().map(_.getLong(0)).toSeq.sorted == direct)
    assert(graft.functions.SketchStore.estimate(spark, path) ==
      Sketches.kmvEstimate(a.unionByName(b)
        .transform(d => Sketches.kmvSketch(d, col("v"), k)), k))
    // stale/duplicate increment numbers are rejected (retry safety)
    intercept[IllegalArgumentException] {
      graft.functions.SketchStore.updateCycle(spark, path, 2, a, col("v"))
    }
    // stored params are authoritative: a store initialized portable stays
    // portable without the caller repeating the flag
    val p2 = java.nio.file.Files.createTempDirectory("kmvstore2").toString
    graft.functions.SketchStore.init(spark, p2, 8, portable = true)
    graft.functions.SketchStore.updateCycle(spark, p2, 1, strs(Seq("x")), col("v"))
    val h = graft.functions.SketchStore.load(spark, p2)
      .collect().map(_.getLong(0)).toSeq
    val expect = strs(Seq("x"))
      .select(conv(substring(md5(col("v")), 1, 15), 16, 10).cast("long"))
      .head().getLong(0)
    assert(h == Seq(expect))
  }

  test("kmvOverlapMatrix: exact below k, near-true above, inclusion-exclusion bounds") {
    val s = spark
    import s.implicits._
    // groups A/B share items 10..19; A has 0..19, B has 10..29: |A|=|B|=20,
    // |A∪B|=30, |A∩B|=10, J=1/3 — all under k=64, so every estimate is exact
    val df = ((0 until 20).map(i => ("A", s"item$i")) ++
      (10 until 30).map(i => ("B", s"item$i"))).toDF("g", "v")
    val sk = Sketches.kmvPerGroup(df, "g", col("v"), k = 64)
    val m = Sketches.kmvOverlapMatrix(sk, k = 64).collect()
    assert(m.length == 1)
    val r = m.head
    assert(r.getString(0) == "A" && r.getString(1) == "B")
    assert(r.getDouble(2) == 20.0 && r.getDouble(3) == 20.0)
    assert(r.getDouble(4) == 30.0)
    assert(r.getDouble(5) == 10.0)
    assert(math.abs(r.getDouble(6) - 1.0 / 3) < 1e-12)
    // saturated: 2000 vs 2000 with 1000 shared → J = 1/3; KMV k=256 lands close
    val big = ((0 until 2000).map(i => ("A", s"x$i")) ++
      (1000 until 3000).map(i => ("B", s"x$i"))).toDF("g", "v")
    val bm = Sketches.kmvOverlapMatrix(
      Sketches.kmvPerGroup(big, "g", col("v"), k = 256), k = 256).collect().head
    assert(math.abs(bm.getDouble(4) - 3000) / 3000.0 < 0.2, s"union=${bm.getDouble(4)}")
    assert(math.abs(bm.getDouble(6) - 1.0 / 3) < 0.15, s"jaccard=${bm.getDouble(6)}")
    // disjoint groups: intersection clamps at 0, jaccard 0
    val dj = ((0 until 30).map(i => ("A", s"a$i")) ++
      (0 until 30).map(i => ("B", s"b$i"))).toDF("g", "v")
    val dr = Sketches.kmvOverlapMatrix(
      Sketches.kmvPerGroup(dj, "g", col("v"), k = 64), k = 64).collect().head
    assert(dr.getDouble(5) == 0.0 && dr.getDouble(6) == 0.0)
  }

  test("CMS estimates dominate true counts and are exact without collisions") {
    val data = (1 to 1000).flatMap(i => Seq.fill(i % 7 + 1)(s"w${i % 50}"))
    val df = strs(data)
    val exact = data.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    val sk = Sketches.cmsSketch(df, col("v"), depth = 4, width = 4096)
    val est = Sketches.cmsEstimate(sk, df.distinct(), col("v"), 4, 4096)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (w, n) =>
      assert(est(w) >= n, s"$w: est ${est(w)} < true $n")
    }
    // 50 items in a 4x4096 grid: all four rows colliding is (50/4096)^4-rare;
    // with this fixed data+hash the estimates are exactly the counts
    assert(exact.forall { case (w, n) => est(w) == n })
  }

  test("CMS join-size estimate dominates the true size; exact collision-free") {
    val s = spark; import s.implicits._
    // keys 1..40, side A has k copies of key k, side B has 2 copies of each
    // even key → true join size = sum over even k of k*2
    val a = strs((1 to 40).flatMap(k => Seq.fill(k)(s"k$k")))
    val b = strs((1 to 40).filter(_ % 2 == 0).flatMap(k => Seq.fill(2)(s"k$k")))
    val trueSize = (1 to 40).filter(_ % 2 == 0).map(_ * 2L).sum
    val est = Sketches.cmsJoinSize(
      Sketches.cmsSketch(a, col("v"), 4, 4096),
      Sketches.cmsSketch(b, col("v"), 4, 4096))
      .head().getLong(0)
    assert(est >= trueSize)
    // 40 keys in a 4x4096 grid: collision-free for this fixed data+hash
    assert(est == trueSize)
  }

  test("CMS merge equals the sketch of the union (grid-cell sums)") {
    val a = strs((1 to 400).map(i => s"w${i % 30}"))
    val b = strs((1 to 600).map(i => s"w${i % 45}"))
    val m = Sketches.cmsMerge(
      Sketches.cmsSketch(a, col("v"), 4, 512),
      Sketches.cmsSketch(b, col("v"), 4, 512))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val direct = Sketches.cmsSketch(a.unionByName(b), col("v"), 4, 512)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(m == direct)
  }

  test("Misra-Gries candidates contain every item with count > n/m") {
    // 10k rows: 'hot' appears 4000 times, the rest spread thin
    val data = Seq.fill(4000)("hot") ++ (1 to 6000).map(i => s"cold${i % 600}")
    val df = strs(scala.util.Random.shuffle(data)).repartition(4)
    val m = 20 // guarantee: survives if count > 10000/20 = 500
    val cands = Sketches.misraGriesCandidates(df, col("v"), m)
      .collect().map(_.getString(0)).toSet
    assert(cands.contains("hot"))
    // probing candidates with CMS recovers the true hot count (upper bound)
    val sk = Sketches.cmsSketch(df, col("v"), 4, 8192)
    val est = Sketches.cmsEstimate(sk,
        Sketches.misraGriesCandidates(df, col("v"), m), col("item"), 4, 8192)
      .filter(col("est") >= 4000).collect()
    assert(est.map(_.getString(0)).contains("hot"))
  }

  test("hllDistinct and approxQuantiles land within tolerance of exact") {
    val df = strs((1 to 10000).map(i => s"u$i"))
    val hll = Sketches.hllDistinct(df, col("v"), rsd = 0.02)
    assert(math.abs(hll - 10000) / 10000.0 < 0.1, s"hll=$hll")
    val s = spark
    import s.implicits._
    val nums = (1 to 1001).map(_.toDouble).toDF("x")
    val qs = Sketches.approxQuantiles(nums, col("x"), Seq(0.5, 0.9),
        accuracy = 10000)
      .head().getSeq[Double](0)
    assert(math.abs(qs(0) - 501.0) <= 2.0 && math.abs(qs(1) - 901.0) <= 3.0,
      s"quantiles=$qs")
  }

  test("cmsHeavyItems ≡ full-universe probe filtered at minCount (FP-inclusive)") {
    // narrow grid on purpose: thousands of distinct items over 4×64 cells
    // GUARANTEES collisions, so the equivalence is exercised on collision
    // false positives too (est ≥ minCount with true count below it) — the
    // case where a candidate scheme that only guarantees TRUE heavy
    // hitters would diverge from the full probe
    val df = strs(Seq.fill(500)("hot") ++ Seq.fill(80)("warm") ++
      (1 to 3000).map(i => s"u$i"))
    val (depth, width, minCount) = (4, 64, 50)
    val sk = Sketches.cmsSketch(df, col("v"), depth, width).persist()
    try {
      val full = Sketches.cmsEstimate(sk, df.distinct(), col("v"), depth, width)
        .filter(col("est") >= minCount)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val lean = Sketches.cmsHeavyItems(sk, df, col("v"), depth, width, minCount)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(lean == full, s"lean=$lean full=$full")
      // portable mode takes the distinct-first probe order — same output
      val skP = Sketches.cmsSketch(df, col("v"), depth, width, portable = true)
        .persist()
      try {
        val fullP = Sketches.cmsEstimate(skP, df.distinct(), col("v"), depth,
            width, portable = true)
          .filter(col("est") >= minCount)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSet
        val leanP = Sketches.cmsHeavyItems(skP, df, col("v"), depth, width,
            minCount, portable = true)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSet
        assert(leanP == fullP, s"portable: lean=$leanP full=$fullP")
      } finally { skP.unpersist(); () }
      assert(lean.exists(_._1 == "hot"))
      // the narrow grid really did produce collision FPs beyond the 2 true
      // heavies — otherwise this test isn't testing the interesting case
      assert(full.size > 2, s"expected collision FPs, got only $full")
    } finally { sk.unpersist(); () }
  }

  test("plan shapes: KMV local pass is narrow; CMS shuffle carries the grid") {
    val df = strs((1 to 100).map(_.toString))
    val kmvPlan = Sketches.kmvSketch(df, col("v"), 16)
      .queryExecution.executedPlan.toString
    // the bounded per-partition pass sits below the (tiny) candidate
    // distinct: the raw column reaches it narrowly, no exchange in between
    val mpIdx = kmvPlan.indexOf("MapPartitions")
    assert(mpIdx >= 0, s"KMV lost its narrow local pass:\n$kmvPlan")
    assert(!kmvPlan.substring(mpIdx).contains("Exchange"),
      s"KMV shuffles below the local pass:\n$kmvPlan")
    val cmsPlan = Sketches.cmsSketch(df, col("v"), 4, 64)
      .queryExecution.executedPlan.toString
    assert(cmsPlan.contains("partial"), // map-side partial agg of grid cells
      s"CMS must partial-aggregate grid cells map-side:\n$cmsPlan")
  }

  test("HLL registers match a driver-side reference implementation") {
    val xs = (1 to 3000).map(i => s"item$i")
    val p = 8
    val got = Sketches.hllRegisters(strs(xs), col("v"), p, portable = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // reference: the same md5-derived 60-bit hash, split p top bits / rank
    val wBits = 60 - p
    val exp = xs.map { v =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(v.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val h = java.lang.Long.parseLong(md.take(15), 16)
      val w = h & ((1L << wBits) - 1)
      val rank =
        if (w == 0) wBits + 1
        else wBits + 1 - (64 - java.lang.Long.numberOfLeadingZeros(w))
      (h >>> wBits, rank.toLong)
    }.groupBy(_._1).map { case (b, rs) => (b, rs.map(_._2).max) }
    assert(got == exp)
  }

  test("HLL merge of shard registers equals the registers of the union") {
    val a = strs((1 to 4000).map(i => s"u$i"))
    val b = strs((2000 to 6000).map(i => s"u$i"))
    val merged = Sketches.hllMerge(
        Sketches.hllRegisters(a, col("v"), 8), Sketches.hllRegisters(b, col("v"), 8))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val direct = Sketches.hllRegisters(a.unionByName(b), col("v"), 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(merged == direct)
  }

  test("HLL estimate lands near truth; registers partition-independent") {
    val df = strs((1 to 20000).map(i => s"u$i"))
    val est = Sketches.hllEstimate(Sketches.hllRegisters(df, col("v"), 8), 8)
    // expected rel-err ~ 1.04/sqrt(256) ≈ 6.5%; allow 3 sigma
    assert(math.abs(est - 20000) / 20000 < 0.2, s"est=$est")
    val r1 = Sketches.hllRegisters(df, col("v"), 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val r2 = Sketches.hllRegisters(df.repartition(13), col("v"), 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(r1 == r2)
  }

  test("HLL small-m alpha uses the exact Flajolet constants; p=4..6 estimates sane") {
    assert(Sketches.hllAlpha(16) == 0.673)
    assert(Sketches.hllAlpha(32) == 0.697)
    assert(Sketches.hllAlpha(64) == 0.709)
    assert(math.abs(Sketches.hllAlpha(256) -
      0.7213 / (1.0 + 1.079 / 256.0)) < 1e-12)
    // at p=5 (m=32, rel-err ~18%) the corrected estimate should land within
    // a loose 3-sigma band of truth for a 5k-distinct input
    val df = strs((1 to 5000).map(i => s"x$i"))
    val est = Sketches.hllEstimate(Sketches.hllRegisters(df, col("v"), 5), 5)
    assert(math.abs(est - 5000) / 5000 < 0.55, s"p=5 est=$est")
  }

  test("histogram: closed-form bins, edge clamping, merge = sum") {
    val s = spark; import s.implicits._
    // grid [0, 10) with 10 bins: value v lands in bin floor(v); outside clamps
    val df = Seq(-5.0, 0.0, 0.999, 1.0, 5.5, 9.99, 10.0, 42.0).toDF("v")
    val got = Sketches.histogram(df, col("v"), 10, 0.0, 10.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(0L -> 3L, 1L -> 1L, 5L -> 1L, 9L -> 3L)) // clamps at 0 and 9
    val a = Seq(1.5, 2.5).toDF("v"); val b = Seq(1.7, 8.0).toDF("v")
    val merged = Sketches.histogramMerge(
        Sketches.histogram(a, col("v"), 10, 0.0, 10.0),
        Sketches.histogram(b, col("v"), 10, 0.0, 10.0))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val direct = Sketches.histogram(a.unionByName(b), col("v"), 10, 0.0, 10.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(merged == direct)
  }

  test("histogram quantiles land within one bin width of exact") {
    val s = spark; import s.implicits._
    val xs = (1 to 10000).map(i => (i * 7919 % 10007).toDouble) // permutation-ish spread
    val df = xs.toDF("v")
    val bins = 128; val lo = 0.0; val hi = 10007.0
    val width = (hi - lo) / bins
    val hist = Sketches.histogram(df, col("v"), bins, lo, hi)
    val probs = Seq(0.25, 0.5, 0.9, 0.99)
    val got = Sketches.histogramQuantiles(hist, bins, lo, hi, probs)
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toMap
    val sorted = xs.sorted
    probs.foreach { p =>
      val exact = sorted(math.ceil(p * xs.size).toInt - 1)
      assert(math.abs(got(p) - exact) <= width,
        s"p=$p est=${got(p)} exact=$exact width=$width")
    }
  }

  test("HistStore: cycles compose to the exact union histogram; grid frozen") {
    val s = spark; import s.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-hist").toString + "/st"
    graft.functions.HistStore.init(spark, path, bins = 10, lo = 0.0, hi = 100.0)
    val a = (1 to 500).map(i => (i * 37 % 100).toDouble).toDF("v")
    val b = (1 to 300).map(i => (i * 61 % 120).toDouble).toDF("v") // some clamp
    graft.functions.HistStore.updateCycle(spark, path, 1, a, col("v"))
    graft.functions.HistStore.updateCycle(spark, path, 2, b, col("v"))
    val stored = graft.functions.HistStore.load(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val direct = Sketches.histogram(a.unionByName(b), col("v"), 10, 0.0, 100.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(stored == direct, "bin-sum merge is exact")
    // stale increment rejected; grid parameters read from the store
    intercept[IllegalArgumentException] {
      graft.functions.HistStore.updateCycle(spark, path, 2, a, col("v"))
    }
    assert(graft.functions.HistStore.params(spark, path) == ((10, 0.0, 100.0)))
    val q = graft.functions.HistStore.quantiles(spark, path, Seq(0.5))
      .collect().head
    assert(q.getDouble(1) >= 0.0 && q.getDouble(1) <= 100.0)
    // vacuum: old increments dropped, newest state intact, guard monotone
    val deleted = graft.functions.HistStore.vacuum(spark, path, keepLast = 1)
    assert(deleted == Seq(0, 1))
    val afterVac = graft.functions.HistStore.load(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(afterVac == direct, "newest state survives the vacuum")
    intercept[IllegalArgumentException] {
      graft.functions.HistStore.updateCycle(spark, path, 1, a, col("v"))
    }
  }

  test("histogramDrift: zero on identical, positive on shifted, smoothed empties") {
    val s = spark; import s.implicits._
    def h(xs: Seq[Double]) =
      Sketches.histogram(xs.toDF("v"), col("v"), 10, 0.0, 10.0)
    val base = (1 to 1000).map(i => (i % 10).toDouble)
    val self = Sketches.histogramDrift(h(base), h(base), 10)
      .select("kl_micro").head().getLong(0)
    assert(self == 0L, s"identical distributions must have zero drift, got $self")
    // shifted mass: half the distribution concentrated in two bins
    val shifted = (1 to 1000).map(i => (i % 2).toDouble)
    val d1 = Sketches.histogramDrift(h(base), h(shifted), 10)
      .select("kl_micro").head().getLong(0)
    assert(d1 > 100000L, s"a real shift must register (>0.1 nats), got $d1")
    // all 10 grid rows present even where a side has empty bins (smoothing)
    val rows = Sketches.histogramDrift(h(base), h(shifted), 10).collect()
    assert(rows.length == 10)
    assert(rows.forall(r => r.getLong(r.fieldIndex("kl_micro")) == d1),
      "total rides on every row")
    // PSI: symmetric-ish and positive on a real shift, zero on identical
    val psiSelf = Sketches.histogramDrift(h(base), h(base), 10)
      .select("psi_micro").head().getLong(0)
    assert(psiSelf == 0L)
    val psi = Sketches.histogramDrift(h(base), h(shifted), 10)
      .select("psi_micro").head().getLong(0)
    val psiRev = Sketches.histogramDrift(h(shifted), h(base), 10)
      .select("psi_micro").head().getLong(0)
    assert(psi > 0L && math.abs(psi - psiRev) <= 10,
      s"PSI symmetric up to rounding: $psi vs $psiRev")
  }

  test("HLL small-range correction: exact-ish on tiny cardinalities") {
    val df = strs((1 to 30).map(i => s"x$i"))
    val est = Sketches.hllEstimate(Sketches.hllRegisters(df, col("v"), 8), 8)
    // linear counting on 256 registers is near-exact at n=30
    assert(math.abs(est - 30) <= 3, s"est=$est")
  }

  test("NULL items are excluded from sketches, identically in both hash modes") {
    val s = spark
    import s.implicits._
    val df = (Seq("a", "b", "a") ++ Seq.fill(3)(null.asInstanceOf[String]))
      .toDF("v")
    val clean = Seq("a", "b", "a").toDF("v")
    for (portable <- Seq(false, true)) {
      // KMV: nulls used to NPE the Long encoder (portable) or count as one
      // phantom distinct (production)
      val sk = Sketches.kmvSketch(df, col("v"), k = 8, portable)
      val ref = Sketches.kmvSketch(clean, col("v"), k = 8, portable)
      assert(sk.collect().toSeq == ref.collect().toSeq, s"portable=$portable")
      // HLL: null rows must not mint a register
      val regs = Sketches.hllRegisters(df, col("v"), 8, portable).count()
      val regsRef = Sketches.hllRegisters(clean, col("v"), 8, portable).count()
      assert(regs == regsRef, s"portable=$portable")
      // CMS: the grid counts only the 3 non-null occurrences
      val tot = Sketches.cmsSketch(df, col("v"), 2, 16, portable)
        .agg(sum("cnt")).head().getLong(0)
      assert(tot == 2L * 3, s"portable=$portable")
    }
  }

  test("histogram excludes NULL and NaN rows instead of binning them") {
    val s = spark
    import s.implicits._
    val df = (Seq(0.1, 0.5, 0.9, Double.NaN) :+ null.asInstanceOf[Any])
      .map(v => Tuple1(v.asInstanceOf[java.lang.Double])).toDF("v")
    val h = Sketches.histogram(df, col("v"), bins = 10, lo = 0.0, hi = 1.0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // NULL would have clamped into bin 9 (least/greatest skip nulls) and
    // NaN into bin 0 — only the three real values may be counted
    assert(h == Map(1L -> 1L, 5L -> 1L, 9L -> 1L), s"got $h")
    val n = Sketches.histogramQuantiles(
      Sketches.histogram(df, col("v"), 10, 0.0, 1.0), 10, 0.0, 1.0, Seq(0.5))
      .select("n").head().getLong(0)
    assert(n == 3L)
  }
}
