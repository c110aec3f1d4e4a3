package graft

import graft.operators.ZOrder
import org.apache.spark.sql.functions._

/** Z-order clustering: the Column interleave must match a reference Scala
  * bit-interleave exactly, and the layout claim — z-clustered partitions
  * have small bounding boxes in ALL clustered dimensions — must hold
  * measurably against a round-robin layout of the same data. */
class ZOrderSpec extends SparkSpec {
  /** Reference interleave: dimension j's bit i → position i*D + j. */
  private def refInterleave(qs: Seq[Long], bits: Int): Long =
    qs.zipWithIndex.map { case (q, j) =>
      (0 until bits).map(i => ((q >> i) & 1L) << (i * qs.length + j)).sum
    }.sum

  test("zvalue matches the reference bit-interleave on a full 2-D grid") {
    import spark.implicits._
    // 32x32 grid scaled so min/max quantization at 5 bits is exact:
    // x in {0..31}*7+3, y in {0..31}*11-40 — both affine in the grid index,
    // so quantize recovers the grid index exactly
    val rows = for { x <- 0 until 32; y <- 0 until 32 }
      yield (x.toLong * 7 + 3, y.toLong * 11 - 40)
    val df = rows.toDF("x", "y")
    val got = ZOrder.zvalue(df, Seq("x", "y"), bits = 5)
      .select(col("x"), col("y"), col("zval")).as[(Long, Long, Long)]
      .collect().toMap2
    for { gx <- 0 until 32; gy <- 0 until 32 } {
      val key = (gx.toLong * 7 + 3, gy.toLong * 11 - 40)
      assert(got(key) === refInterleave(Seq(gx.toLong, gy.toLong), 5),
        s"grid cell ($gx,$gy)")
    }
  }

  implicit private class Map2[A, B, C](rows: Array[(A, B, C)]) {
    def toMap2: Map[(A, B), C] = rows.map(r => ((r._1, r._2), r._3)).toMap
  }

  test("three dimensions interleave without collision on a 8x8x8 grid") {
    import spark.implicits._
    val rows = for { x <- 0 until 8; y <- 0 until 8; z <- 0 until 8 }
      yield (x.toLong, y.toLong, z.toLong)
    val zvals = ZOrder.zvalue(rows.toDF("x", "y", "z"),
        Seq("x", "y", "z"), bits = 3)
      .select(col("zval")).as[Long].collect()
    assert(zvals.distinct.length === 512) // bijection on the full grid
    assert(zvals.min === 0L && zvals.max === 511L)
  }

  test("constant column quantizes to 0 and does not poison the z-value") {
    import spark.implicits._
    val df = (0 until 16).map(i => (i.toLong, 42L)).toDF("x", "c")
    val out = ZOrder.zvalue(df, Seq("x", "c"), bits = 4)
      .select(col("x"), col("zval")).as[(Long, Long)].collect().toMap
    // with c's bits all zero, zval is x's bits spread to even positions
    (0 until 16).foreach { x =>
      assert(out(x.toLong) === refInterleave(Seq(x.toLong, 0L), 4))
    }
  }

  test("NULL and NaN values quantize to cell 0, never the top cell") {
    import spark.implicits._
    // least/greatest skip nulls, so an unguarded null would land at the
    // MASK cell and co-locate with the max-value rows
    val df = Seq[(java.lang.Long, java.lang.Double)](
      (0L, 0.0), (1L, 10.0), (2L, null), (3L, Double.NaN))
      .toDF("id", "v")
    val q = df.select(col("id"),
      ZOrder.quantize(col("v"), lit(0.0), lit(10.0), bits = 4).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(q(0L) == 0L && q(1L) == 15L)
    assert(q(2L) == 0L, s"null must pin to cell 0, got ${q(2L)}")
    assert(q(3L) == 0L, s"NaN must pin to cell 0, got ${q(3L)}")
  }

  test("sub-1.0 double ranges keep full quantization resolution") {
    import spark.implicits._
    // quality-score-like dimension in [0, 15/32] — exact dyadic doubles so
    // the expected cells are IEEE-exact; every 4-bit cell must be reachable
    // (a floor-1.0 divisor would collapse the sub-1.0 range to cell 0..7)
    val df = (0 to 15).map(i => (i.toLong, i / 32.0)).toDF("id", "q")
    val got = ZOrder.zvalue(df, Seq("q"), bits = 4)
      .select(col("id"), col("zval")).as[(Long, Long)].collect().toMap
    (0 to 15).foreach { i =>
      assert(got(i.toLong) === i.toLong, s"cell $i collapsed")
    }
  }

  test("frozen bounds keep appended batches layout-consistent; out-of-bounds saturate") {
    import spark.implicits._
    val batch1 = (0 until 32).flatMap(x => (0 until 32).map(y =>
      (x.toLong * 7 + 3, y.toLong * 11 - 40))).toDF("x", "y")
    val bounds = ZOrder.boundsOf(batch1, Seq("x", "y"))
    // identical rows in a later batch get identical z-values under the
    // frozen bounds (no re-clustering of history needed)
    val sample = batch1.limit(50)
    val orig = ZOrder.zvalue(batch1, Seq("x", "y"), bits = 5)
      .select(col("x"), col("y"), col("zval")).as[(Long, Long, Long)]
      .collect().toMap2
    val appended = ZOrder.zvalueWithBounds(sample, Seq("x", "y"), bounds, bits = 5)
      .select(col("x"), col("y"), col("zval")).as[(Long, Long, Long)]
      .collect()
    appended.foreach { case (x, y, z) => assert(z === orig((x, y))) }
    // out-of-bounds appends saturate to the edge cells, never corrupt bits
    val oob = Seq((-1000L, 10000L)).toDF("x", "y")
    val zOob = ZOrder.zvalueWithBounds(oob, Seq("x", "y"), bounds, bits = 5)
      .select(col("zval")).as[Long].head()
    assert(zOob === refInterleave(Seq(0L, 31L), 5))
  }

  test("cluster shrinks summed per-partition bounding-box area vs round-robin") {
    import spark.implicits._
    // uniform 64x64 grid, 16 partitions: round-robin partitions each span
    // ~the full plane (area sum ~16*A); z-clustered partitions cover
    // compact curve runs (area sum ~A, elongation aside)
    val rows = for { x <- 0 until 64; y <- 0 until 64 }
      yield (x.toLong, y.toLong)
    val df = rows.toDF("x", "y")

    def areaSum(d: org.apache.spark.sql.DataFrame): Double =
      d.select(col("x"), col("y")).as[(Long, Long)].rdd
        .mapPartitions { it =>
          val pts = it.toArray
          if (pts.isEmpty) Iterator.empty
          else Iterator((pts.map(_._1).max - pts.map(_._1).min + 1).toDouble *
            (pts.map(_._2).max - pts.map(_._2).min + 1))
        }.collect().sum

    val zArea = areaSum(ZOrder.cluster(df, Seq("x", "y"), 16, bits = 6))
    val rrArea = areaSum(df.repartition(16))
    assert(zArea < rrArea / 4.0,
      s"z-order area sum $zArea not < quarter of round-robin $rrArea")
  }
}
