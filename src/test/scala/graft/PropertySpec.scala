package graft

import graft.api._
import org.apache.spark.sql.functions.{col, concat, lit, not, pmod}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests for the algebraic contracts the engine relies on
  * (SURVEY §5: "assoc/partial-agg equivalence") — if these hold, Catalyst's
  * partial/final split and our two-phase folds are semantics-preserving for
  * any partitioning. */
class PropertySpec extends SparkSpec {
  /** deterministic sampling (no scalatest-scalacheck bridge in the offline
    * cache): 20 seeded samples per property */
  def forAll[A](g: Gen[A])(f: A => Unit): Unit =
    (0 until 20).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(f)
    }
  def forAll[A, B](g1: Gen[A], g2: Gen[B])(f: (A, B) => Unit): Unit =
    (0 until 20).foreach { i =>
      for (a <- g1.apply(Gen.Parameters.default, Seed(i.toLong));
           b <- g2.apply(Gen.Parameters.default, Seed(i.toLong + 1000)))
        f(a, b)
    }
  def whenever(c: Boolean)(f: => Unit): Unit = if (c) f

  val smallInts: Gen[List[Int]] = Gen.listOfN(40, Gen.choose(-100, 100))

  test("foldAssoc(local, global) == sequential fold for any data & partitioning") {
    val s = imp
    import s._
    forAll(smallInts, Gen.choose(1, 6)) { (xs: List[Int], p: Int) =>
      whenever(xs.nonEmpty) {
        val dist = ctx.streamParIter(xs, p).foldAssoc(0L)(_ + _, _ + _).collectVec().head
        assert(dist == xs.map(_.toLong).sum)
      }
    }
  }

  test("reduceAssoc(max) == sequential max for any partitioning") {
    val s = imp
    import s._
    forAll(smallInts, Gen.choose(1, 6)) { (xs: List[Int], p: Int) =>
      whenever(xs.nonEmpty) {
        val dist = ctx.streamParIter(xs, p).reduceAssoc(math.max).collectVec().head
        assert(dist == xs.max)
      }
    }
  }

  test("keyed fold via Aggregator == per-key sequential fold") {
    val s = imp
    import s._
    forAll(smallInts) { (xs: List[Int]) =>
      whenever(xs.nonEmpty) {
        val dist = ctx.streamIter(xs).groupBy(_ % 3)
          .fold(0L)((a, v) => a + v * v, _ + _).collectVec().toMap
        val local = xs.groupBy(_ % 3).view
          .mapValues(_.map(v => v.toLong * v).sum).toMap
        assert(dist == local)
      }
    }
  }

  test("uniqueAssoc == Set semantics; merge == multiset union") {
    val s = imp
    import s._
    forAll(smallInts, smallInts) { (xs: List[Int], ys: List[Int]) =>
      val d = ctx.streamIter(xs).uniqueAssoc().collectVec().toSet
      assert(d == xs.toSet)
      val m = ctx.streamIter(xs).merge(ctx.streamIter(ys)).collectVec().sorted
      assert(m == (xs ++ ys).sorted)
    }
  }

  test("native WordShingles == composed formulation on random space-heavy strings") {
    import org.apache.spark.sql.functions.{col, not}
    val s = imp; import s._
    // alphabet biased toward spaces so empty words, runs of separators and
    // boundary cases are well-represented
    val texts: Gen[List[String]] = Gen.listOfN(30,
      Gen.listOfN(25, Gen.frequency(
        (3, Gen.const(' ')), (5, Gen.alphaChar), (1, Gen.const('ü'))))
        .map(_.mkString))
    forAll(texts, Gen.choose(1, 4)) { (ts: List[String], n: Int) =>
      whenever(ts.nonEmpty) {
        val df = ts.toDF("text")
        val diff = df.select(
            graft.functions.Dedup.shingles(col("text"), n).as("fast"),
            graft.functions.Dedup.shinglesComposed(col("text"), n).as("slow"))
          .filter(not(col("fast") <=> col("slow"))).count()
        assert(diff == 0, s"n=$n texts=$ts")
      }
    }
  }

  test("window CountWindow tumbling partitions the key's elements exactly") {
    val s = imp
    import s._
    forAll(Gen.choose(1, 10), Gen.choose(1, 30)) { (size: Int, n: Int) =>
      val xs = (0 until n).toList
      val windows = ctx.streamIter(xs).groupBy(_ => 0)
        .window(WindowDescr.CountWindow[Int, Int](size, size, exact = false, identity))
        .toVec.collectVec().map(_._2)
      // exact=false: all elements covered exactly once, in order
      assert(windows.flatten.sorted == xs)
      assert(windows.count(_.length < size) <= 1) // at most one partial
    }
  }

  test("tokenShards == sequential exclusive-prefix division for any data & partitioning") {
    val s = imp
    import s._
    forAll(Gen.listOfN(25, Gen.choose(0, 50)),
        Gen.zip(Gen.choose(1L, 60L), Gen.choose(1, 6))) {
      (costs: List[Int], bp: (Long, Int)) =>
      val (budget, parts) = bp
      val rows = costs.zipWithIndex.map { case (c, i) => (i.toLong, c.toLong) }
      val got = graft.functions.Sampling.tokenShards(
          rows.toDF("doc_id", "cost"), "doc_id", col("cost"), budget,
          partitions = Some(parts))
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      val expected = rows.scanLeft(((-1L, 0L), 0L)) {
        case (((_, _), acc), (id, c)) => ((id, acc / budget), acc + c)
      }.drop(1).map(_._1).toMap
      assert(got == expected, s"budget=$budget parts=$parts costs=$costs")
    }
  }

  test("keyed topK == sort-desc-take-k per key, for any data & partitioning") {
    val s = imp
    import s._
    forAll(Gen.listOf(Gen.zip(Gen.choose(0, 3), Gen.choose(-50, 50))),
        Gen.choose(1, 6)) { (xs: List[(Int, Int)], p: Int) =>
      val k = 3
      val got = new graft.api.KeyedStream(
          spark.createDataset(xs).repartition(p))
        .topK(k)(identity[Int])
        .collectVec().toMap
      val expected = xs.groupBy(_._1).view
        .mapValues(_.map(_._2).sorted(Ordering[Int].reverse).take(k)).toMap
      assert(got == expected, s"p=$p xs=$xs")
    }
  }

  test("mixtureSample fraction monotonicity: lower fraction is a subset") {
    val s = imp
    import s._
    forAll(Gen.choose(0.0, 1.0), Gen.choose(0.0, 1.0)) { (f1: Double, f2: Double) =>
      val (lo, hi) = (math.min(f1, f2), math.max(f1, f2))
      val df = spark.range(300).select(col("id").as("doc_id"),
        concat(lit("d"), pmod(col("id"), lit(3))).as("dom"))
      def ids(f: Double) = graft.functions.Sampling.mixtureSample(
          df, "dom", "doc_id", Map("d0" -> f), default = 0.5)
        .filter(col("dom") === "d0")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids(lo).subsetOf(ids(hi)))
    }
  }

  test("isqrt: floor-sqrt contract over arbitrary non-negative longs") {
    forAll(Gen.oneOf(
      Gen.choose(0L, 1000L),
      Gen.choose(0L, Long.MaxValue),
      // perfect squares and their neighbors — the boundary class where a
      // double-rounded sqrt goes wrong
      Gen.choose(0L, 3037000499L).map(k => k * k),
      Gen.choose(1L, 3037000499L).map(k => k * k - 1))) { n: Long =>
      val r = graft.functions.Sampling.isqrt(n)
      assert(r >= 0)
      assert(BigInt(r) * BigInt(r) <= BigInt(n), s"isqrt($n)=$r overshoots")
      assert(BigInt(r + 1) * BigInt(r + 1) > BigInt(n), s"isqrt($n)=$r undershoots")
    }
  }

  test("temperature budgets: sum ≤ totalBudget, monotone in stratum mass") {
    // driver-side contract of the α=1/2 derivation: floor rounding never
    // overspends, and a stratum with more tokens never gets a smaller budget
    forAll(Gen.listOfN(6, Gen.choose(0L, 1000000L)), Gen.choose(1L, 1000000L)) {
      (masses: List[Long], total: Long) =>
      val ws = masses.map(graft.functions.Sampling.isqrt)
      val wSum = ws.map(BigInt(_)).sum
      whenever(wSum > 0) {
        val budgets = ws.map(w => (BigInt(total) * w / wSum).toLong)
        assert(budgets.map(BigInt(_)).sum <= BigInt(total))
        // budgets ordered like masses: sort pairs by mass, budgets follow
        val byMass = masses.zip(budgets).sortBy(_._1).map(_._2)
        byMass.sliding(2).foreach {
          case Seq(b1, b2) => assert(b1 <= b2, s"budget order broke: $masses -> $budgets")
          case _ => ()
        }
      }
    }
  }

  test("nearest as-of == brute-force closest match for any data & partitioning") {
    val s = imp; import s._
    val genTs: Gen[List[Long]] = Gen.listOfN(25, Gen.choose(0L, 50L))
    forAll(genTs, Gen.choose(1, 4)) { (ts: List[Long], nKeys: Int) =>
      whenever(ts.nonEmpty) {
        // interleave keys deterministically; rights = every third value
        val rows = ts.zipWithIndex.map { case (t, i) => (s"k${i % nKeys}", t, i) }
        val lefts = rows.filter(_._3 % 3 != 0).map(r => (r._1, r._2, r._3))
        val rights = rows.filter(_._3 % 3 == 0)
          // unique (key, ts) on the right so the match is deterministic
          .groupBy(r => (r._1, r._2)).map(_._2.maxBy(_._3)).toSeq
          .map(r => (r._1, r._2, r._3 * 10))
        whenever(lefts.nonEmpty && rights.nonEmpty) {
          val got = graft.operators.AsOfJoin.nearest(
              lefts.toDF("k", "l_ts", "lid"), rights.toDF("k", "r_ts", "rid"),
              Seq("k"), "l_ts", "r_ts")
            .collect().map(r => r.getInt(2) ->
              (if (r.isNullAt(4)) None else Some(r.getInt(4)))).toMap
          lefts.foreach { case (k, lt, lid) =>
            val cands = rights.filter(_._1 == k)
            val expected =
              if (cands.isEmpty) None
              else {
                val best = cands.minBy { case (_, rt, _) =>
                  // distance, then backward-preferred (rt <= lt wins ties)
                  (math.abs(rt - lt), if (rt <= lt) 0 else 1)
                }
                Some(best._3)
              }
            assert(got(lid) == expected,
              s"key $k left@$lt: got ${got(lid)}, expected $expected")
          }
        }
      }
    }
  }

  test("funnel staging == per-user sequential scan for any event data") {
    val s = imp
    val genEvents: Gen[List[(Int, Int, Long)]] =
      Gen.listOfN(30, Gen.zip(Gen.choose(0, 3), Gen.choose(0, 4), Gen.choose(0L, 40L)))
    forAll(genEvents) { evs0 =>
      whenever(evs0.nonEmpty) {
        val types = Array("view", "click", "purchase", "error", "signup")
        val evs = evs0.zipWithIndex.map { case ((u, t, ts), i) =>
          (i.toLong, u.toLong, types(t % types.length), ts * 1000000L)
        }
        val dir = java.nio.file.Files.createTempDirectory("graft-prop-funnel").toString
        import s._
        evs.map { case (id, u, et, us) => (id, u, et, us, 0.0, "{}") }
          .toDF("event_id", "user_id", "event_type", "_us", "value", "props")
          .select(col("event_id"),
            org.apache.spark.sql.functions.to_timestamp(
              col("_us").cast("double") / 1e6).as("ts"),
            col("user_id"), col("event_type"), col("value"), col("props"))
          .write.mode("overwrite").parquet(dir + "/events.parquet")
        val got = Queries.q_funnel(spark, dir)
          .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4)))).toMap
        evs.groupBy(_._2).foreach { case (u, rows) =>
          val sorted = rows.sortBy(_._4)
          val t1 = sorted.filter(_._3 == "view").map(_._4).minOption
          val t2 = t1.flatMap(a => sorted.filter(r => r._3 == "click" && r._4 >= a)
            .map(_._4).minOption)
          val t3 = t2.flatMap(a => sorted.filter(r => r._3 == "purchase" && r._4 >= a)
            .map(_._4).minOption)
          val stage = if (t3.isDefined) 3L else if (t2.isDefined) 2L
            else if (t1.isDefined) 1L else 0L
          assert(got(u) == ((t1.getOrElse(-1L), t2.getOrElse(-1L),
            t3.getOrElse(-1L), stage)), s"user $u")
        }
      }
    }
  }

  test("compactLatest == window argmax on random versioned rows, any partitioning") {
    val s = imp
    import s._
    val gen = Gen.listOfN(50, for {
      k <- Gen.choose(1L, 6L)
      v <- Gen.choose(0L, 20L)
    } yield (k, v))
    forAll(gen, Gen.choose(1, 5)) { (rows, parts) =>
      whenever(rows.nonEmpty) {
        val df = rows.zipWithIndex
          .map { case ((k, v), i) => (k, v, i.toLong, s"p$i") }
          .toDF("k", "v", "id", "payload").repartition(parts)
        val got = graft.operators.Scale.compactLatest(df, "k", "v", "id",
            Seq("payload"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .sortBy(_._1).toSeq
        val exp = rows.zipWithIndex
          .map { case ((k, v), i) => (k, v, i.toLong) }
          .groupBy(_._1).toSeq
          .map { case (k, rs) => rs.maxBy(r => (r._2, r._3)) }
          .sortBy(_._1)
        assert(got == exp)
      }
    }
  }

  test("sessionize == per-user sequential gap scan on random event sets") {
    val s = imp
    import s._
    val gen = Gen.listOfN(60, for {
      u <- Gen.choose(1L, 4L)
      ts <- Gen.choose(0L, 500L)
    } yield (u, ts))
    forAll(gen, Gen.choose(5L, 60L)) { (evs, gap) =>
      whenever(evs.nonEmpty) {
        val rows = evs.zipWithIndex.map { case ((u, ts), i) => (i.toLong, u, ts) }
        val df = rows.toDF("event_id", "user_id", "_us")
          .select(col("event_id"), col("user_id"),
            org.apache.spark.sql.functions.to_timestamp(
              col("_us").cast("double") / 1e6).as("ts"))
        val got = graft.operators.WindowsDF
          .sessionize(df, "user_id", "ts", "event_id", gap)
          .collect().map(r => r.getLong(0) ->
            ((r.getBoolean(3), r.getLong(4)))).toMap
        rows.groupBy(_._2).foreach { case (u, rs) =>
          var last = 0L; var n = 0L
          rs.sortBy(r => (r._3, r._1)).foreach { case (id, _, us) =>
            val isNew = n == 0L || us - last > gap
            if (isNew) n += 1
            last = us
            assert(got(id) == ((isNew, n)), s"user $u event $id gap $gap")
          }
        }
      }
    }
  }
}
